package graft.sources

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, File, IOException}
import java.math.BigInteger
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.{KeyFactory, KeyPair, KeyPairGenerator, MessageDigest, SecureRandom, Signature}
import java.security.interfaces.RSAPublicKey
import java.security.spec.RSAPublicKeySpec
import javax.crypto.{Cipher, KeyAgreement, Mac}
import javax.crypto.spec.{DHParameterSpec, DHPublicKeySpec, IvParameterSpec, SecretKeySpec}

/** Genuine SFTP-over-SSH-2 transport for [[RemoteFileSource]].
  *
  * The reference's production sources are majority `sftp://` (protocol
  * dispatch scrap/child_otherftp.py:129-162, asyncssh/pycurl), and this
  * implements the actual SSH-2 wire protocol from JCE primitives — no
  * SSH library exists on the classpath, and none is needed:
  *
  *   - key exchange: diffie-hellman-group14-sha256 (RFC 8268; the
  *     RFC 3526 2048-bit MODP group is a public constant) via JCE
  *     `KeyAgreement("DH")`
  *   - host key: RSA-2048, `rsa-sha2-256` signatures (RFC 8332) over
  *     the exchange hash, generated AND VERIFIED with JCE `Signature`
  *   - transport: aes128-ctr + hmac-sha2-256 per RFC 4253 §6 binary
  *     packets (MAC over seq‖plaintext, verified on every packet),
  *     keys derived per RFC 4253 §7.2
  *   - auth: password method (RFC 4252), checked server-side against
  *     the same account table as the FTP twin; failure surfaces as a
  *     [[PermanentProtocolException]] (no retry burn)
  *   - sftp: version-3 subset (INIT/OPENDIR/READDIR/OPEN/READ/CLOSE)
  *     over a session channel with the "sftp" subsystem
  *
  * Zero egress means no WAN host can be reached, so — exactly like the
  * FTP twin ([[MiniFtp]], the reference's own localhost ftp_server.py
  * arrangement) — `sftp://localhost` URLs are served by an in-process
  * loopback [[MiniSftpServer]] rooted at the URL's path, while a
  * non-local host gets the same client pointed at the literal
  * host:port (the production path, unreachable hence untested here).
  * Client and server share only [[SshTransport]] (framing + crypto);
  * the handshake crosses real sockets, so a broken MAC, a bad
  * signature, or a wrong password fails the wire, not a mock. */
object MiniSftp {
  private val servers = scala.collection.mutable.Map.empty[String, MiniSftpServer]

  Runtime.getRuntime.addShutdownHook(new Thread(() => synchronized {
    servers.values.foreach(s => try s.stop() catch { case _: Exception => () })
  }, "mini-sftp-shutdown"))

  /** Start (or reuse) the loopback server rooted at `dir`; returns its
    * actual ephemeral port. */
  def serve(dir: String): Int = synchronized {
    servers.getOrElseUpdate(dir, new MiniSftpServer(dir)).port
  }

  /** Spec access to a live server's diagnostics (accepted-connection
    * meter) without exposing the registry for mutation. */
  private[graft] def serverFor(dir: String): Option[MiniSftpServer] =
    synchronized(servers.get(dir))

  /** One host key per JVM (like a real sshd's /etc/ssh key). */
  lazy val hostKey: KeyPair = {
    val g = KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    g.generateKeyPair()
  }

  /** RFC 3526 group 14: 2048-bit MODP prime, generator 2. */
  val P: BigInteger = new BigInteger(
    "FFFFFFFFFFFFFFFFC90FDAA22168C234C4C6628B80DC1CD129024E088A67CC74" +
    "020BBEA63B139B22514A08798E3404DDEF9519B3CD3A431B302B0A6DF25F1437" +
    "4FE1356D6D51C245E485B576625E7EC6F44C42E9A637ED6B0BFF5CB6F406B7ED" +
    "EE386BFB5A899FA5AE9F24117C4B1FE649286651ECE45B3DC2007CB8A163BF05" +
    "98DA48361C55D39A69163FA8FD24CF5F83655D23DCA3AD961C62F356208552BB" +
    "9ED529077096966D670C354E4ABC9804F1746C08CA18217C32905E462E36CE3B" +
    "E39E772C180E86039B2783A2EC07A28FB5C55DF06F4C52C9DE2BCBF695581718" +
    "3995497CEA956AE515D2261898FA051015728E5A8AACAA68FFFFFFFFFFFFFFFF", 16)
  val G: BigInteger = BigInteger.valueOf(2)
}

/** SSH wire-format encode/decode helpers (RFC 4251 §5). */
private[graft] object SshWire {
  final class Buf {
    private val out = new java.io.ByteArrayOutputStream()
    def byte(b: Int): Buf = { out.write(b); this }
    def bool(b: Boolean): Buf = byte(if (b) 1 else 0)
    def int(v: Int): Buf = {
      out.write(v >>> 24); out.write(v >>> 16); out.write(v >>> 8); out.write(v); this
    }
    def long(v: Long): Buf = { int((v >>> 32).toInt); int(v.toInt) }
    def raw(b: Array[Byte]): Buf = { out.write(b, 0, b.length); this }
    def str(b: Array[Byte]): Buf = { int(b.length); raw(b) }
    def str(s: String): Buf = str(s.getBytes(UTF_8))
    def mpint(v: BigInteger): Buf = str(v.toByteArray) // minimal two's complement
    def bytes: Array[Byte] = out.toByteArray
  }

  final class Reader(b: Array[Byte], private var i: Int = 0) {
    def byte(): Int = { i += 1; b(i - 1) & 0xff }
    def bool(): Boolean = byte() != 0
    def int(): Int = { val v = ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff); i += 4; v }
    def long(): Long = (int().toLong << 32) | (int().toLong & 0xffffffffL)
    def strBytes(): Array[Byte] = {
      val n = int()
      if (n < 0 || n > b.length - i) throw new IOException(s"ssh: bad string length $n")
      val r = java.util.Arrays.copyOfRange(b, i, i + n); i += n; r
    }
    def str(): String = new String(strBytes(), UTF_8)
    def mpint(): BigInteger = new BigInteger(strBytes())
    def remaining(): Array[Byte] = java.util.Arrays.copyOfRange(b, i, b.length)
  }
}

/** RFC 4253 transport for ONE socket: version exchange, algorithm
  * negotiation, group14 DH kex with an RSA host-key signature, then
  * encrypted + MACed binary packets. Role-symmetric — the client
  * verifies the server's signature over the exchange hash; directional
  * keys are derived per §7.2 and swapped by role.
  *
  * Scope notes (loopback transport, not a general SSH stack): no
  * re-keying (RFC 4253 §9 recommends rekey per GB/hour — sessions here
  * live for one partition read) and channel windows are opened at
  * Int.MaxValue with flow control left to TCP (both ends are ours;
  * a general client must send CHANNEL_WINDOW_ADJUST). A packet's
  * ciphertext and MAC leave in one write, and both ends' sockets set
  * TCP_NODELAY, because under Nagle's algorithm a small write behind an
  * unacknowledged one waits for the peer's delayed ACK (~40 ms on
  * Linux) — on every round trip, against an sshd as much as against
  * the loopback server. */
private[graft] final class SshTransport(sock: Socket, isClient: Boolean,
    hostKey: => KeyPair) {
  import SshWire._

  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(sock.getOutputStream)
  private val rnd = new SecureRandom()
  private var seqIn = 0L
  private var seqOut = 0L
  private var encOut: Cipher = _
  private var encIn: Cipher = _
  private var macOut: Mac = _
  private var macIn: Mac = _
  /** Exchange hash of the first kex = SSH session id. */
  var sessionId: Array[Byte] = _

  private val vLocal = "SSH-2.0-graftMiniSftp_0.7"
  private var vPeer: String = _

  private val kexAlgs = "diffie-hellman-group14-sha256"
  private val keyAlgs = "rsa-sha2-256"
  private val encAlgs = "aes128-ctr"
  private val macAlgs = "hmac-sha2-256"
  private val cmpAlgs = "none"

  // ---------------------------------------------------------- handshake

  def handshake(): Unit = {
    // version exchange (§4.2): one line each; a server may send banner
    // lines first, so the client skips until the SSH- marker
    out.write((vLocal + "\r\n").getBytes(UTF_8)); out.flush()
    var line = readLine()
    if (isClient) { var guard = 0
      while (!line.startsWith("SSH-") && guard < 32) { line = readLine(); guard += 1 }
    }
    if (!line.startsWith("SSH-2.0-"))
      throw new IOException(s"ssh: unsupported peer version '$line'")
    vPeer = line

    val kexLocal = kexInitPayload()
    writePacket(kexLocal)
    val kexPeer = readExpect(20)
    negotiate(kexPeer)

    val (vC, vS) = if (isClient) (vLocal, vPeer) else (vPeer, vLocal)
    val (iC, iS) = if (isClient) (kexLocal, kexPeer) else (kexPeer, kexLocal)

    val (k, h) =
      if (isClient) {
        val kpg = KeyPairGenerator.getInstance("DH")
        kpg.initialize(new DHParameterSpec(MiniSftp.P, MiniSftp.G))
        val kp = kpg.generateKeyPair()
        val e = kp.getPublic.asInstanceOf[javax.crypto.interfaces.DHPublicKey].getY
        writePacket(new Buf().byte(30).mpint(e).bytes) // KEXDH_INIT
        val r = new Reader(readExpect(31)) // KEXDH_REPLY
        r.byte() // message type
        val ksBlob = r.strBytes()
        val f = r.mpint()
        checkDhPublic(f)
        val sigBlob = r.strBytes()
        val ka = KeyAgreement.getInstance("DH")
        ka.init(kp.getPrivate)
        ka.doPhase(KeyFactory.getInstance("DH").generatePublic(
          new DHPublicKeySpec(f, MiniSftp.P, MiniSftp.G)), true)
        val k = new BigInteger(1, ka.generateSecret())
        val h = exchangeHash(vC, vS, iC, iS, ksBlob, e, f, k)
        verifyHostSignature(ksBlob, sigBlob, h)
        (k, h)
      } else {
        val r = new Reader(readExpect(30)) // KEXDH_INIT
        r.byte() // message type
        val e = r.mpint()
        checkDhPublic(e)
        val kpg = KeyPairGenerator.getInstance("DH")
        kpg.initialize(new DHParameterSpec(MiniSftp.P, MiniSftp.G))
        val kp = kpg.generateKeyPair()
        val f = kp.getPublic.asInstanceOf[javax.crypto.interfaces.DHPublicKey].getY
        val ka = KeyAgreement.getInstance("DH")
        ka.init(kp.getPrivate)
        ka.doPhase(KeyFactory.getInstance("DH").generatePublic(
          new DHPublicKeySpec(e, MiniSftp.P, MiniSftp.G)), true)
        val k = new BigInteger(1, ka.generateSecret())
        val pub = hostKey.getPublic.asInstanceOf[RSAPublicKey]
        val ksBlob = new Buf().str("ssh-rsa")
          .mpint(pub.getPublicExponent).mpint(pub.getModulus).bytes
        val h = exchangeHash(vC, vS, iC, iS, ksBlob, e, f, k)
        val sig = Signature.getInstance("SHA256withRSA")
        sig.initSign(hostKey.getPrivate)
        sig.update(h)
        val sigBlob = new Buf().str("rsa-sha2-256").str(sig.sign()).bytes
        writePacket(new Buf().byte(31)
          .str(ksBlob).mpint(f).str(sigBlob).bytes) // KEXDH_REPLY
        (k, h)
      }

    sessionId = h
    writePacket(Array[Byte](21)) // NEWKEYS
    readExpect(21)
    deriveKeys(k, h)
  }

  /** RFC 4253 §8: a peer public value outside [2, p-2] collapses the
    * shared secret into a trivial subgroup (0/1/p-1 degenerate-key
    * attack) — reject before doing any agreement with it. */
  private def checkDhPublic(y: BigInteger): Unit =
    if (y.compareTo(BigInteger.TWO) < 0 ||
      y.compareTo(MiniSftp.P.subtract(BigInteger.TWO)) > 0)
      throw new IOException("ssh: peer DH public value out of range")

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n' && c != -1) {
      if (c != '\r') sb.append(c.toChar)
      // version lines are ≤255 bytes by spec; a peer streaming garbage
      // without a newline must not grow the buffer unbounded
      if (sb.length > 1024) throw new IOException("ssh: oversized banner line")
      c = in.read()
    }
    if (c == -1) throw new IOException("ssh: connection closed during version exchange")
    sb.toString
  }

  private def kexInitPayload(): Array[Byte] = {
    val cookie = new Array[Byte](16)
    rnd.nextBytes(cookie)
    new Buf().byte(20).raw(cookie)
      .str(kexAlgs).str(keyAlgs)
      .str(encAlgs).str(encAlgs).str(macAlgs).str(macAlgs)
      .str(cmpAlgs).str(cmpAlgs).str("").str("")
      .bool(false).int(0).bytes
  }

  /** RFC 4253 §7.1: the chosen algorithm is the client's first
    * preference also present in the server's list. Both endpoints here
    * offer single-entry lists, but the check is the real one — a peer
    * lacking the algorithm is a negotiation failure, not a silent
    * assumption. */
  private def negotiate(peerKexInit: Array[Byte]): Unit = {
    val r = new Reader(peerKexInit)
    r.byte(); (1 to 16).foreach(_ => r.byte()) // type + cookie
    val lists = (1 to 8).map(_ => r.str().split(",").toSet)
    val want = Seq(kexAlgs, keyAlgs, encAlgs, encAlgs, macAlgs, macAlgs,
      cmpAlgs, cmpAlgs)
    want.zip(lists).zipWithIndex.foreach { case ((alg, peer), i) =>
      if (!peer.contains(alg))
        throw new IOException(
          s"ssh: negotiation failed at list $i: peer offers ${peer.mkString(",")}, need $alg")
    }
  }

  private def exchangeHash(vC: String, vS: String, iC: Array[Byte],
      iS: Array[Byte], ks: Array[Byte], e: BigInteger, f: BigInteger,
      k: BigInteger): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(new Buf()
      .str(vC).str(vS).str(iC).str(iS).str(ks)
      .mpint(e).mpint(f).mpint(k).bytes)

  /** Parse the ssh-rsa host-key blob and verify the rsa-sha2-256
    * signature over H — the authenticity step a real client performs
    * (host-key pinning/known_hosts would sit above this). */
  private def verifyHostSignature(ksBlob: Array[Byte], sigBlob: Array[Byte],
      h: Array[Byte]): Unit = {
    val ks = new Reader(ksBlob)
    val keyType = ks.str()
    if (keyType != "ssh-rsa")
      throw new IOException(s"ssh: unexpected host key type $keyType")
    val (e, n) = (ks.mpint(), ks.mpint())
    val pub = KeyFactory.getInstance("RSA")
      .generatePublic(new RSAPublicKeySpec(n, e))
    val sr = new Reader(sigBlob)
    val sigType = sr.str()
    if (sigType != "rsa-sha2-256")
      throw new IOException(s"ssh: unexpected signature type $sigType")
    val sig = Signature.getInstance("SHA256withRSA")
    sig.initVerify(pub)
    sig.update(h)
    if (!sig.verify(sr.strBytes()))
      throw new IOException("ssh: host key signature verification FAILED")
  }

  /** RFC 4253 §7.2: key = HASH(K‖H‖letter‖session_id), extended by
    * HASH(K‖H‖key...) until long enough. Letters A-F by direction. */
  private def deriveKeys(k: BigInteger, h: Array[Byte]): Unit = {
    val kBytes = new Buf().mpint(k).bytes
    def kdf(letter: Char, len: Int): Array[Byte] = {
      val md = MessageDigest.getInstance("SHA-256")
      var acc = md.digest(kBytes ++ h ++ Array(letter.toByte) ++ sessionId)
      while (acc.length < len)
        acc = acc ++ MessageDigest.getInstance("SHA-256").digest(kBytes ++ h ++ acc)
      acc.take(len)
    }
    def ctr(keyB: Array[Byte], iv: Array[Byte], mode: Int): Cipher = {
      val c = Cipher.getInstance("AES/CTR/NoPadding")
      c.init(mode, new SecretKeySpec(keyB, "AES"), new IvParameterSpec(iv))
      c
    }
    def hmac(keyB: Array[Byte]): Mac = {
      val m = Mac.getInstance("HmacSHA256")
      m.init(new SecretKeySpec(keyB, "HmacSHA256"))
      m
    }
    val (ivOut, ivIn) = if (isClient) (kdf('A', 16), kdf('B', 16))
                        else (kdf('B', 16), kdf('A', 16))
    val (keyOut, keyIn) = if (isClient) (kdf('C', 16), kdf('D', 16))
                          else (kdf('D', 16), kdf('C', 16))
    val (macKOut, macKIn) = if (isClient) (kdf('E', 32), kdf('F', 32))
                            else (kdf('F', 32), kdf('E', 32))
    encOut = ctr(keyOut, ivOut, Cipher.ENCRYPT_MODE)
    encIn = ctr(keyIn, ivIn, Cipher.DECRYPT_MODE)
    macOut = hmac(macKOut)
    macIn = hmac(macKIn)
  }

  // ------------------------------------------------------ packet layer

  /** §6 binary packet: len‖padlen‖payload‖padding, padded to the
    * cipher block; post-NEWKEYS the whole packet is AES-CTR encrypted
    * and HMAC(seq‖plaintext) rides behind it, in the same write. */
  def writePacket(payload: Array[Byte]): Unit = synchronized {
    val block = if (encOut != null) 16 else 8
    var pad = block - ((5 + payload.length) % block)
    if (pad < 4) pad += block
    val padding = new Array[Byte](pad)
    rnd.nextBytes(padding)
    val packet = new Buf().int(1 + payload.length + pad).byte(pad)
      .raw(payload).raw(padding).bytes
    if (encOut != null) {
      macOut.update(new Buf().int(seqOut.toInt).bytes)
      macOut.update(packet)
      val wire = new Array[Byte](packet.length + macOut.getMacLength)
      encOut.update(packet, 0, packet.length, wire, 0)
      macOut.doFinal(wire, packet.length)
      out.write(wire)
    } else out.write(packet)
    out.flush()
    seqOut += 1
  }

  /** Read one packet; verifies the MAC (tamper ⇒ loud failure) and
    * transparently skips IGNORE/DEBUG. DISCONNECT raises. */
  def readPacket(): Array[Byte] = synchronized {
    while (true) {
      val full =
        if (encIn != null) {
          val first = readN(16)
          val p1 = encIn.update(first)
          val plen = new Reader(p1).int()
          if (plen < 5 || plen > (1 << 20))
            throw new IOException(s"ssh: corrupt packet length $plen")
          val rest = plen + 4 - 16
          // CTR Cipher.update returns null on empty input — a packet
          // that is exactly one block has no remainder to decrypt
          val p2 = if (rest == 0) Array.emptyByteArray
                   else encIn.update(readN(rest))
          val packet = p1 ++ p2
          val tag = readN(32)
          macIn.update(new Buf().int(seqIn.toInt).bytes)
          macIn.update(packet)
          if (!MessageDigest.isEqual(macIn.doFinal(), tag))
            throw new IOException("ssh: MAC verification failed (packet tampered or keys diverged)")
          packet
        } else {
          val lenB = readN(4)
          val plen = new Reader(lenB).int()
          if (plen < 5 || plen > (1 << 20))
            throw new IOException(s"ssh: corrupt packet length $plen")
          lenB ++ readN(plen)
        }
      seqIn += 1
      val pad = full(4) & 0xff
      val payload = java.util.Arrays.copyOfRange(full, 5, 5 + (new Reader(full).int() - 1 - pad))
      payload.headOption.map(_.toInt & 0xff) match {
        case Some(2) | Some(4) => () // IGNORE / DEBUG — skip
        case Some(1) =>
          val r = new Reader(payload); r.byte()
          throw new IOException(s"ssh: peer disconnected (code ${r.int()}): ${r.str()}")
        case _ => return payload
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def readExpect(msgType: Int): Array[Byte] = {
    val p = readPacket()
    if ((p(0) & 0xff) != msgType)
      throw new IOException(s"ssh: expected message $msgType, got ${p(0) & 0xff}")
    p
  }

  private def readN(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    in.readFully(b)
    b
  }
}

/** SFTP v3 packet constants (draft-ietf-secsh-filexfer-02 — version 3
  * is what OpenSSH speaks). */
private[sources] object Sftp {
  val INIT = 1; val VERSION = 2; val OPEN = 3; val CLOSE = 4; val READ = 5
  val OPENDIR = 11; val READDIR = 12; val STAT = 17
  val STATUS = 101; val HANDLE = 102; val DATA = 103; val NAME = 104; val ATTRS = 105
  val OK = 0; val EOF = 1; val NO_SUCH_FILE = 2
  val FLAG_SIZE = 1; val FLAG_ACMODTIME = 8
  val READ_CHUNK = 32768
}

/** A non-OK SFTP STATUS reply, typed so callers can branch on the
  * code (EOF is a normal loop terminator, not an error). */
private[sources] final class SftpStatusException(val code: Int, msg: String)
    extends IOException(s"sftp: status $code: $msg")

/** Loopback SSH-2 server speaking userauth-password + the sftp
  * subsystem over one flat directory — the SFTP twin of
  * [[MiniFtpServer]], same account table, same exact-listed-name
  * resolution (no separators, byte-exact names). Thread-per-connection,
  * daemon threads, ephemeral loopback port. */
class MiniSftpServer(dir: String,
    accounts: Map[String, String] = Map("graft" -> "graft")) {
  import SshWire._

  private val server =
    new ServerSocket(0, 16, InetAddress.getByName("127.0.0.1"))
  def port: Int = server.getLocalPort

  @volatile private var running = true

  /** TCP connections accepted since start — the spec-side handshake
    * meter for the [[RemoteClientPool]] amortization pin. */
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
  }, s"mini-sftp-$port")
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = { running = false; server.close() }

  private def files(): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isFile).sortBy(_.getName).toSeq

  private def resolved(name: String): Option[File] = {
    val f = new File(dir, name)
    if (!name.contains('/') && !name.contains('\\') &&
      f.isFile && f.getName == name) Some(f)
    else None
  }

  private def handle(sock: Socket): Unit = {
    try {
      sock.setSoTimeout(20000)
      sock.setTcpNoDelay(true)
      val t = new SshTransport(sock, isClient = false, MiniSftp.hostKey)
      t.handshake()
      var authed = false
      var clientChannel = -1
      var open = true
      val sftpBuf = new java.io.ByteArrayOutputStream()
      val handles = scala.collection.mutable.Map.empty[String, Either[Unit, File]]
      var nextHandle = 0
      var dirSent = false

      def send(payload: Array[Byte]): Unit = t.writePacket(payload)
      def sftpSend(pkt: Array[Byte]): Unit = {
        // one SFTP packet may exceed the channel packet size — chunk it
        var off = 0
        val framed = new Buf().int(pkt.length).raw(pkt).bytes
        while (off < framed.length) {
          val n = math.min(32000, framed.length - off)
          send(new Buf().byte(94).int(clientChannel)
            .str(java.util.Arrays.copyOfRange(framed, off, off + n)).bytes)
          off += n
        }
      }
      def status(id: Int, code: Int, msg: String): Array[Byte] =
        new Buf().byte(Sftp.STATUS).int(id).int(code).str(msg).str("en").bytes
      def attrs(b: Buf, f: File): Buf = b
        .int(Sftp.FLAG_SIZE | Sftp.FLAG_ACMODTIME)
        .long(f.length())
        .int((f.lastModified() / 1000).toInt).int((f.lastModified() / 1000).toInt)

      def onSftpPacket(pkt: Array[Byte]): Unit = {
        val r = new Reader(pkt)
        val tpe = r.byte()
        tpe match {
          case Sftp.INIT =>
            sftpSend(new Buf().byte(Sftp.VERSION).int(3).bytes)
          case Sftp.OPENDIR =>
            val id = r.int(); r.str() // path — single flat dir
            val h = s"d$nextHandle"; nextHandle += 1
            handles(h) = Left(()); dirSent = false
            sftpSend(new Buf().byte(Sftp.HANDLE).int(id).str(h).bytes)
          case Sftp.READDIR =>
            val id = r.int(); val h = r.str()
            if (!handles.get(h).exists(_.isLeft))
              sftpSend(status(id, Sftp.NO_SUCH_FILE, s"bad handle $h"))
            else if (dirSent) sftpSend(status(id, Sftp.EOF, "end of directory"))
            else {
              dirSent = true
              val fs = files()
              val b = new Buf().byte(Sftp.NAME).int(id).int(fs.length)
              fs.foreach { f =>
                b.str(f.getName).str(f.getName) // name, longname
                attrs(b, f)
              }
              sftpSend(b.bytes)
            }
          case Sftp.STAT =>
            val id = r.int(); val name = r.str()
            resolved(name) match {
              case Some(f) =>
                sftpSend(attrs(new Buf().byte(Sftp.ATTRS).int(id), f).bytes)
              case None => sftpSend(status(id, Sftp.NO_SUCH_FILE, s"No such file: $name"))
            }
          case Sftp.OPEN =>
            val id = r.int(); val name = r.str()
            resolved(name) match {
              case Some(f) =>
                val h = s"f$nextHandle"; nextHandle += 1
                handles(h) = Right(f)
                sftpSend(new Buf().byte(Sftp.HANDLE).int(id).str(h).bytes)
              case None => sftpSend(status(id, Sftp.NO_SUCH_FILE, s"No such file: $name"))
            }
          case Sftp.READ =>
            val id = r.int(); val h = r.str(); val off = r.long(); val len = r.int()
            handles.get(h) match {
              case Some(Right(f)) =>
                val size = f.length()
                if (off >= size) sftpSend(status(id, Sftp.EOF, "EOF"))
                else {
                  val n = math.min(len.toLong, size - off).toInt
                  val raf = new java.io.RandomAccessFile(f, "r")
                  val chunk = new Array[Byte](n)
                  try { raf.seek(off); raf.readFully(chunk) } finally raf.close()
                  sftpSend(new Buf().byte(Sftp.DATA).int(id).str(chunk).bytes)
                }
              case _ => sftpSend(status(id, Sftp.NO_SUCH_FILE, s"bad handle $h"))
            }
          case Sftp.CLOSE =>
            val id = r.int(); handles.remove(r.str())
            sftpSend(status(id, Sftp.OK, "ok"))
          case other =>
            val id = r.int()
            sftpSend(status(id, 8 /* OP_UNSUPPORTED */, s"unsupported op $other"))
        }
      }

      while (open) {
        val p = t.readPacket()
        val r = new Reader(p)
        r.byte() match {
          case 5 => // SERVICE_REQUEST
            val svc = r.str()
            if (svc != "ssh-userauth")
              throw new IOException(s"ssh: unexpected service $svc")
            send(new Buf().byte(6).str(svc).bytes)
          case 50 => // USERAUTH_REQUEST
            val user = r.str(); r.str() /* service */
            val method = r.str()
            if (method == "password") {
              r.bool()
              val pass = r.str()
              if (accounts.get(user).contains(pass)) {
                authed = true
                send(Array[Byte](52)) // USERAUTH_SUCCESS
              } else send(new Buf().byte(51).str("password").bool(false).bytes)
            } else send(new Buf().byte(51).str("password").bool(false).bytes)
          case 90 if authed => // CHANNEL_OPEN "session"
            val tpe = r.str(); val sender = r.int()
            r.int(); r.int() // window, maxpkt
            if (tpe != "session")
              send(new Buf().byte(92).int(sender).int(3).str("only session").str("en").bytes)
            else {
              clientChannel = sender
              send(new Buf().byte(91).int(sender).int(0)
                .int(Int.MaxValue).int(32768).bytes)
            }
          case 98 if authed => // CHANNEL_REQUEST
            r.int()
            val req = r.str(); val wantReply = r.bool()
            if (req == "subsystem" && r.str() == "sftp") {
              if (wantReply) send(new Buf().byte(99).int(clientChannel).bytes)
            } else if (wantReply)
              send(new Buf().byte(100).int(clientChannel).bytes)
          case 94 => // CHANNEL_DATA → accumulate, parse SFTP packets
            r.int()
            sftpBuf.write(r.strBytes())
            var more = true
            while (more) {
              val all = sftpBuf.toByteArray
              if (all.length >= 4) {
                val plen = new Reader(all).int()
                if (all.length >= 4 + plen) {
                  onSftpPacket(java.util.Arrays.copyOfRange(all, 4, 4 + plen))
                  sftpBuf.reset()
                  sftpBuf.write(all, 4 + plen, all.length - 4 - plen)
                } else more = false
              } else more = false
            }
          case 96 | 97 => // CHANNEL_EOF / CHANNEL_CLOSE
            open = false
          case 93 => () // WINDOW_ADJUST — windows are effectively unbounded here
          case _ if !authed =>
            throw new IOException("ssh: request before authentication")
          case _ => ()
        }
      }
    } catch {
      case _: Exception => () // connection reset / timeout / tamper — drop session
    } finally sock.close()
  }
}

/** SFTP protocol client over a real SSH-2 socket transport. One
  * connection per client instance (one per partition reader); a
  * mid-protocol failure resets the connection so the [[RemoteRetry]]
  * loop reconnects cleanly. Auth rejection and missing files raise
  * [[PermanentProtocolException]] — no retry burn on permanent errors
  * (same policy as the FTP twin). */
class SftpSocketClient(host: String, port: Int, dir: String,
    user: String = "graft", pass: String = "graft")
    extends RemoteClient with AutoCloseable {
  import SshWire._

  @transient private var sock: Socket = _
  @transient private var t: SshTransport = _
  @transient private var reqId = 0
  private val channel = 0

  private def connected(): Unit = {
    if (sock == null || sock.isClosed) try {
      val isLocal = host == "localhost" || host == "127.0.0.1"
      val (addr, p) =
        if (isLocal) (InetAddress.getByName("127.0.0.1"), MiniSftp.serve(dir))
        else (InetAddress.getByName(host), port)
      sock = new Socket()
      sock.connect(new java.net.InetSocketAddress(addr, p), 15000)
      sock.setSoTimeout(20000)
      sock.setTcpNoDelay(true)
      t = new SshTransport(sock, isClient = true, null)
      t.handshake()
      // userauth (RFC 4252): request the service, then password-auth
      t.writePacket(new Buf().byte(5).str("ssh-userauth").bytes)
      t.readExpect(6)
      t.writePacket(new Buf().byte(50).str(user).str("ssh-connection")
        .str("password").bool(false).str(pass).bytes)
      val authReply = t.readPacket()
      if ((authReply(0) & 0xff) != 52)
        throw new PermanentProtocolException(
          s"sftp: authentication failed for user '$user' (USERAUTH_FAILURE)")
      // session channel + sftp subsystem
      t.writePacket(new Buf().byte(90).str("session").int(channel)
        .int(Int.MaxValue).int(32768).bytes)
      t.readExpect(91)
      t.writePacket(new Buf().byte(98).int(0 /* server's channel id */)
        .str("subsystem").bool(true).str("sftp").bytes)
      t.readExpect(99)
      sftpRoundtrip(new Buf().byte(Sftp.INIT).int(3).bytes, Sftp.VERSION)
      ()
    } catch { case e: Exception => reset(); throw e }
  }

  private def reset(): Unit = {
    if (sock != null) { try sock.close() catch { case _: Exception => () } }
    sock = null; t = null; pending.reset()
  }

  /** Send one SFTP packet, read CHANNEL_DATA until one full SFTP reply
    * is assembled; STATUS with an error code raises (NO_SUCH_FILE and
    * auth-class codes permanently). */
  private val pending = new java.io.ByteArrayOutputStream()

  private def sftpRoundtrip(pkt: Array[Byte], expect: Int): Reader = {
    val framed = new Buf().int(pkt.length).raw(pkt).bytes
    t.writePacket(new Buf().byte(94).int(channel).str(framed).bytes)
    // assemble exactly one reply packet
    while (true) {
      val all = pending.toByteArray
      if (all.length >= 4) {
        val plen = new Reader(all).int()
        if (all.length >= 4 + plen) {
          pending.reset()
          pending.write(all, 4 + plen, all.length - 4 - plen)
          val r = new Reader(java.util.Arrays.copyOfRange(all, 4, 4 + plen))
          val tpe = r.byte()
          if (tpe == expect) return r
          if (tpe == Sftp.STATUS) {
            val id = r.int(); val code = r.int(); val msg = r.str()
            if (code == Sftp.NO_SUCH_FILE)
              throw new PermanentProtocolException(s"sftp: $msg (status $code, id $id)")
            throw new SftpStatusException(code, msg)
          }
          throw new IOException(s"sftp: expected packet $expect, got $tpe")
        }
      }
      val p = t.readPacket()
      val r = new Reader(p)
      r.byte() match {
        case 94 => r.int(); pending.write(r.strBytes())
        case 93 | 96 => () // WINDOW_ADJUST / EOF
        case other => throw new IOException(s"sftp: unexpected ssh message $other")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def nextId(): Int = { reqId += 1; reqId }

  override def list(): Seq[RemoteFileRef] =
    try {
      connected()
      val hid = nextId()
      val hr = sftpRoundtrip(
        new Buf().byte(Sftp.OPENDIR).int(hid).str(".").bytes, Sftp.HANDLE)
      hr.int() // id
      val handle = hr.strBytes()
      val entries = scala.collection.mutable.ArrayBuffer.empty[RemoteFileRef]
      var eof = false
      while (!eof) {
        val id = nextId()
        try {
          val nr = sftpRoundtrip(
            new Buf().byte(Sftp.READDIR).int(id).str(handle).bytes, Sftp.NAME)
          nr.int() // id
          val n = nr.int()
          (1 to n).foreach { _ =>
            val name = nr.str(); nr.str() // longname
            val flags = nr.int()
            val size = if ((flags & Sftp.FLAG_SIZE) != 0) nr.long() else 0L
            val mtime = if ((flags & Sftp.FLAG_ACMODTIME) != 0) {
              nr.int(); nr.int().toLong
            } else 0L
            entries += RemoteFileRef(name, size, mtime)
          }
        } catch {
          case e: SftpStatusException if e.code == Sftp.EOF => eof = true
        }
      }
      sftpRoundtrip(new Buf().byte(Sftp.CLOSE).int(nextId()).str(handle).bytes,
        Sftp.STATUS)
      entries.sortBy(_.name).toSeq
    } catch { case e: Exception => if (!e.isInstanceOf[PermanentProtocolException]) reset(); throw e }

  override def fetch(name: String): Array[Byte] =
    try {
      connected()
      val or = sftpRoundtrip(new Buf().byte(Sftp.OPEN).int(nextId())
        .str(name).int(1 /* SSH_FXF_READ */).int(0).bytes, Sftp.HANDLE)
      or.int()
      val handle = or.strBytes()
      val out = new java.io.ByteArrayOutputStream()
      var off = 0L
      var eof = false
      while (!eof) {
        try {
          val dr = sftpRoundtrip(new Buf().byte(Sftp.READ).int(nextId())
            .str(handle).long(off).int(Sftp.READ_CHUNK).bytes, Sftp.DATA)
          dr.int()
          val chunk = dr.strBytes()
          out.write(chunk)
          off += chunk.length
        } catch {
          case e: SftpStatusException if e.code == Sftp.EOF => eof = true
        }
      }
      sftpRoundtrip(new Buf().byte(Sftp.CLOSE).int(nextId()).str(handle).bytes,
        Sftp.STATUS)
      out.toByteArray
    } catch { case e: Exception => if (!e.isInstanceOf[PermanentProtocolException]) reset(); throw e }

  override def close(): Unit = {
    if (sock != null && !sock.isClosed) {
      try t.writePacket(new SshWire.Buf().byte(1).int(11)
        .str("bye").str("en").bytes) // DISCONNECT_BY_APPLICATION
      catch { case _: Exception => () }
      reset()
    }
  }
}
