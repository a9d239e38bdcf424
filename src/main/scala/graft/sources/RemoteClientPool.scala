package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Executor-wide pool of authenticated remote-protocol clients, keyed
  * by source URL, to amortize wire handshakes ACROSS micro-
  * batches. A partition reader lives for one micro-batch, so without
  * pooling every batch × partition × URL pays a fresh handshake — for
  * the SSH-2 transport that is a 2048-bit DH exchange plus an RSA host
  * key verification per batch (stream_remote measured 6.9 s at sf0.1,
  * ~5 s of which was repeated key exchange). The pool holds idle
  * AUTHENTICATED clients for [[idleTtlMs]] so the next batch's reader
  * (or the driver's next listing) reuses the session.
  *
  * Concurrency: protocol clients are single-socket sequential-command
  * objects, so a client is EXCLUSIVELY owned between [[borrow]] and
  * [[give]]; N concurrent readers on one URL hold N clients (each
  * still amortized across its own later batches). LIFO reuse keeps the
  * hottest session alive and lets the cold tail age out. A client that
  * broke mid-fetch self-resets on next use (the protocol clients
  * reconnect their control channel on failure — RemoteRetry's
  * contract), so returning it is safe.
  *
  * Scale shape: state is per-JVM (one pool per executor), bounded by
  * (concurrent readers × distinct URLs), and TTL-swept on every
  * borrow/give — no background thread, no global coordination. */
object RemoteClientPool {
  private final case class Idle(client: RemoteClient, since: Long)

  private val idle =
    new ConcurrentHashMap[String, java.util.ArrayDeque[Idle]]()

  /** Idle sessions older than this are closed at the next pool touch.
    * Var (not config-plumbed) so tests can force expiry. */
  @volatile private[graft] var idleTtlMs: Long = 60000L

  /** Diagnostics for specs: handshakes actually performed vs avoided. */
  val created = new AtomicLong(0)
  val reused = new AtomicLong(0)

  def borrow(url: String): RemoteClient = {
    sweep()
    val q = idle.get(url)
    val got = if (q == null) null else q.synchronized(q.pollFirst())
    if (got != null) { reused.incrementAndGet(); got.client }
    else { created.incrementAndGet(); RemoteUrl.parse(url).client }
  }

  def give(url: String, c: RemoteClient): Unit = {
    val q = idle.computeIfAbsent(url, _ => new java.util.ArrayDeque[Idle]())
    q.synchronized(q.addFirst(Idle(c, System.currentTimeMillis())))
    sweep()
  }

  private def close(c: RemoteClient): Unit = c match {
    case a: AutoCloseable => try a.close() catch { case _: Exception => () }
    case _ => ()
  }

  private def sweep(): Unit = {
    val cutoff = System.currentTimeMillis() - idleTtlMs
    idle.forEach { (_, q) =>
      q.synchronized {
        // LIFO deque: the stalest sessions are at the tail.
        while (!q.isEmpty && q.peekLast().since < cutoff) close(q.pollLast().client)
      }
    }
  }

  /** Test hook: drop every pooled session and reset counters. */
  private[graft] def drain(): Unit = {
    idle.forEach((_, q) => q.synchronized {
      while (!q.isEmpty) close(q.pollFirst().client)
    })
    idle.clear()
    created.set(0)
    reused.set(0)
  }
}
