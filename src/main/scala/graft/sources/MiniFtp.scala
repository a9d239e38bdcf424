package graft.sources

import java.io.{BufferedReader, ByteArrayOutputStream, File, InputStreamReader, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Genuine FTP-over-sockets transport for [[RemoteFileSource]].
  *
  * The environment has zero egress, so a WAN server can't be reached —
  * but the reference's own test arrangement is a localhost FTP server
  * over a local directory (ftp_server.py:42-44), and this mirrors it
  * exactly: `ftp://localhost:.../dir` URLs are served by an in-process
  * loopback [[MiniFtpServer]] rooted at the URL's path (started lazily,
  * one per served directory, ephemeral port — the URL's port stays the
  * LOGICAL identity used for `server_folder` naming), and
  * [[FtpSocketClient]] speaks the actual wire protocol over real
  * sockets: USER/PASS login, TYPE I, PASV data channels, NLST listing,
  * SIZE/MDTM stat probes (the reference's HEAD-only metadata-before-
  * data rule, child.py:35-65), RETR payload transfer. A non-local ftp
  * host gets the same client pointed at the literal host:port — the
  * production path, unreachable (hence untested) in this sandbox.
  * sftp:// has its own genuine SSH-2 wire transport: [[MiniSftp]].
  *
  * The client integrates with [[FetchPolicy]] retries: any mid-protocol
  * IOException closes and resets the control connection, so the next
  * retry reconnects cleanly — a real flaky-server recovery path, not
  * just an in-memory counter reset.
  *
  * Control sockets set TCP_NODELAY on both ends: the server answers a
  * transfer with `150` and then `226` and no client message between,
  * so under Nagle's algorithm the `226` waits for the client's delayed
  * ACK (~40 ms per transfer on Linux). */
object MiniFtp {
  private val servers = scala.collection.mutable.Map.empty[String, MiniFtpServer]

  // One server (socket + acceptor thread) lives per served directory
  // for the JVM's life; stop them at exit so a long-lived driver does
  // not leak listening sockets unbounded.
  Runtime.getRuntime.addShutdownHook(new Thread(() => synchronized {
    servers.values.foreach(s => try s.stop() catch { case _: Exception => () })
  }, "mini-ftp-shutdown"))

  /** Start (or reuse) the loopback server rooted at `dir`; returns its
    * actual ephemeral port. */
  def serve(dir: String): Int = synchronized {
    servers.getOrElseUpdate(dir, new MiniFtpServer(dir)).port
  }

  /** Spec access to a live server's diagnostics (accepted-connection
    * meter) without exposing the registry for mutation. */
  private[graft] def serverFor(dir: String): Option[MiniFtpServer] =
    synchronized(servers.get(dir))

  val mdtmFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyyMMddHHmmss").withZone(ZoneOffset.UTC)
}

/** Minimal passive-mode binary FTP server over one flat directory.
  * Thread-per-connection, daemon threads, ephemeral loopback port.
  * Logins are VERIFIED against `accounts` (user → password): the
  * reference's production URLs embed `user:pass@host` credentials
  * (FIXTURES.md corpus), so the loopback server must be able to
  * reject a wrong password with a genuine 530 — an accept-anything
  * server can't prove the credential path works. */
class MiniFtpServer(dir: String,
    accounts: Map[String, String] = Map("graft" -> "graft")) {
  // Bind IPv4 loopback EXPLICITLY: PASV advertises dotted-quad digits
  // (127,0,0,1), so the data/control sockets must live there too —
  // getLoopbackAddress can resolve to ::1 under preferIPv6Addresses,
  // which would refuse the client's advertised-address connect.
  private val server =
    new ServerSocket(0, 16, InetAddress.getByName("127.0.0.1"))
  def port: Int = server.getLocalPort

  @volatile private var running = true

  /** Control connections accepted since start — the spec-side
    * handshake meter for the [[RemoteClientPool]] amortization pin. */
  val accepted = new java.util.concurrent.atomic.AtomicLong(0)

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        accepted.incrementAndGet()
        val t = new Thread(() => handle(sock))
        t.setDaemon(true)
        t.start()
      } catch { case _: Exception => if (!running) () }
    }
  }, s"mini-ftp-$port")
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = { running = false; server.close() }

  private def files(): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isFile).sortBy(_.getName).toSeq

  private def handle(sock: Socket): Unit = {
    var dataSock: ServerSocket = null
    try {
      sock.setSoTimeout(15000)
      sock.setTcpNoDelay(true)
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
      val out = new OutputStreamWriter(sock.getOutputStream, UTF_8)
      def reply(s: String): Unit = { out.write(s + "\r\n"); out.flush() }
      def openPasv(): Unit = {
        if (dataSock != null) dataSock.close()
        dataSock = new ServerSocket(0, 1, InetAddress.getByName("127.0.0.1"))
        val p = dataSock.getLocalPort
        reply(s"227 Entering Passive Mode (127,0,0,1,${p / 256},${p % 256})")
      }
      def withData(body: Socket => Unit): Unit = {
        if (dataSock == null) { reply("425 Use PASV first"); return }
        reply("150 Opening data connection")
        dataSock.setSoTimeout(15000)
        val d = dataSock.accept()
        try body(d) finally { d.close(); dataSock.close(); dataSock = null }
        reply("226 Transfer complete")
      }
      reply("220 graft mini-ftp ready")
      var open = true
      var pendingUser: String = null
      var loggedIn = false
      while (open) {
        val line = in.readLine()
        if (line == null) open = false
        else {
          val sp = line.indexOf(' ')
          val cmd = (if (sp < 0) line else line.substring(0, sp)).toUpperCase
          val arg = if (sp < 0) "" else line.substring(sp + 1)
          // direct name resolution (the directory is flat): going via
          // files() costs a full directory scan PER stat probe — 2n
          // scans for one listing. Separator check blocks traversal;
          // the getName equality keeps EXACT listed-name semantics (a
          // case-insensitive filesystem would otherwise serve names
          // NLST never advertised).
          def resolved: Option[File] = {
            val f = new File(dir, arg)
            if (!arg.contains('/') && !arg.contains('\\') &&
              f.isFile && f.getName == arg) Some(f)
            else None
          }
          cmd match {
            case "USER" =>
              pendingUser = arg; loggedIn = false
              reply("331 Password required")
            case "PASS" =>
              if (pendingUser != null && accounts.get(pendingUser).contains(arg)) {
                loggedIn = true
                reply("230 Logged in")
              } else reply("530 Login incorrect")
            case "QUIT" => reply("221 Bye"); open = false
            case _ if !loggedIn => reply("530 Not logged in")
            case "TYPE" => reply("200 Binary it is")
            case "CWD" => reply("250 OK (single-directory server)")
            case "PASV" => openPasv()
            case "NLST" => withData { d =>
              val w = new OutputStreamWriter(d.getOutputStream, UTF_8)
              files().foreach(f => w.write(f.getName + "\r\n"))
              w.flush()
            }
            case "SIZE" => resolved match {
              case Some(f) => reply(s"213 ${f.length()}")
              case None => reply(s"550 No such file: $arg")
            }
            case "MDTM" => resolved match {
              case Some(f) => reply("213 " +
                MiniFtp.mdtmFmt.format(Instant.ofEpochMilli(f.lastModified())))
              case None => reply(s"550 No such file: $arg")
            }
            case "RETR" => resolved match {
              case Some(f) =>
                withData(d => d.getOutputStream.write(Files.readAllBytes(f.toPath)))
              case None => reply(s"550 No such file: $arg")
            }
            case _ => reply(s"502 Not implemented: $cmd")
          }
        }
      }
    } catch {
      case _: Exception => () // connection reset / timeout — drop session
    } finally {
      if (dataSock != null) dataSock.close()
      sock.close()
    }
  }
}

/** FTP protocol client over real sockets. One control connection per
  * client instance (one per partition reader — single-threaded use),
  * one PASV data channel per transfer; a mid-protocol failure resets
  * the control connection so the [[RemoteRetry]] loop reconnects.
  * Credentials come from the URL's `user:pass@` userinfo (reference
  * URLs embed them, child.py:16-18); 5xx replies raise
  * [[PermanentProtocolException]] so the retry policy fails fast
  * instead of burning backoff on a login or missing-file error. */
class FtpSocketClient(host: String, port: Int, dir: String,
    user: String = "graft", pass: String = "graft")
    extends RemoteClient with AutoCloseable {

  @transient private var sock: Socket = _
  @transient private var in: BufferedReader = _
  @transient private var out: OutputStreamWriter = _

  private def connected(): Unit = {
    if (sock == null || sock.isClosed) {
      val isLocal = host == "localhost" || host == "127.0.0.1"
      val (addr, p) =
        if (isLocal) (InetAddress.getByName("127.0.0.1"), MiniFtp.serve(dir))
        else (InetAddress.getByName(host), port)
      sock = new Socket()
      // explicit connect timeout: without one a blackholed host blocks
      // for the OS default (~2 min) PER RETRY, unbounding the policy
      sock.connect(new java.net.InetSocketAddress(addr, p), 15000)
      sock.setSoTimeout(15000)
      sock.setTcpNoDelay(true)
      in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
      out = new OutputStreamWriter(sock.getOutputStream, UTF_8)
      expect(220)
      cmd(s"USER $user", 331)
      cmd(s"PASS $pass", 230)
      cmd("TYPE I", 200)
      // Honor the URL's directory path on ANY server: without CWD a
      // real server rooting users above the target directory would
      // list/fetch the wrong files. The loopback server is
      // rooted at the directory already and acknowledges the no-op.
      if (dir.nonEmpty && dir != "/") cmd(s"CWD $dir", 250)
    }
  }

  private def reset(): Unit = {
    if (sock != null) { try sock.close() catch { case _: Exception => () } }
    sock = null
  }

  /** Read one reply, handling RFC 959 multiline form: `NNN-` opens a
    * block whose intermediate lines are FREE TEXT (need not carry a
    * code) and which ends only at a line starting `NNN ` with the SAME
    * code. Returns (code, final-line text). */
  private def readReply(): (Int, String) = {
    var line = in.readLine()
    if (line == null) throw new java.io.IOException("control connection closed")
    if (line.length >= 4 && line.charAt(3) == '-') {
      val terminator = line.take(3) + " "
      while (!line.startsWith(terminator)) {
        line = in.readLine()
        if (line == null)
          throw new java.io.IOException("control connection closed mid-reply")
      }
    }
    (line.take(3).toInt, line.drop(4))
  }

  private def expect(code: Int): String = {
    val (c, text) = readReply()
    if (c == code) text
    else if (c >= 500)
      // 5xx is RFC 959 "permanent negative completion" — retrying the
      // same command can only fail the same way
      throw new PermanentProtocolException(s"ftp: expected $code, got $c $text")
    else throw new java.io.IOException(s"ftp: expected $code, got $c $text")
  }

  private def cmd(c: String, code: Int): String = {
    out.write(c + "\r\n"); out.flush()
    expect(code)
  }

  /** PASV + `c`, drain the data channel fully, confirm 226. Only the
    * PORT is taken from the 227 reply — the data channel reuses the
    * CONTROL connection's address, as standard clients do: a server
    * behind NAT advertises its private IP in the PASV octets, and
    * connecting there reaches the wrong machine or nothing. */
  private def transfer(c: String): Array[Byte] = {
    val pasv = cmd("PASV", 227)
    val nums = "\\d+".r.findAllIn(pasv).map(_.toInt).toSeq.takeRight(6)
    val dp = nums(4) * 256 + nums(5)
    out.write(c + "\r\n"); out.flush()
    expect(150)
    val d = new Socket()
    val buf = new ByteArrayOutputStream()
    try {
      d.connect(new java.net.InetSocketAddress(sock.getInetAddress, dp), 15000)
      d.setSoTimeout(15000)
      val bytes = new Array[Byte](8192)
      var n = d.getInputStream.read(bytes)
      while (n >= 0) { buf.write(bytes, 0, n); n = d.getInputStream.read(bytes) }
    } finally d.close()
    expect(226)
    buf.toByteArray
  }

  override def list(): Seq[RemoteFileRef] =
    try {
      connected()
      val names = new String(transfer("NLST"), UTF_8)
        .split("\r?\n").filter(_.nonEmpty).toSeq.sorted
      names.map { n =>
        val size = cmd(s"SIZE $n", 213).trim.toLong
        val mdtm = cmd(s"MDTM $n", 213).trim
        // shared formatter (MiniFtp.mdtmFmt) — a duplicated pattern
        // literal invites one-sided format drift vs the server
        val mtimeS = LocalDateTime.parse(mdtm, MiniFtp.mdtmFmt)
          .toEpochSecond(ZoneOffset.UTC)
        RemoteFileRef(n, size, mtimeS)
      }
    } catch { case e: Exception => reset(); throw e }

  override def fetch(name: String): Array[Byte] =
    try { connected(); transfer(s"RETR $name") }
    catch { case e: Exception => reset(); throw e }

  override def close(): Unit = {
    if (sock != null && !sock.isClosed) {
      try { out.write("QUIT\r\n"); out.flush() } catch { case _: Exception => () }
      reset()
    }
  }
}
