package graft

/** Round-trip timing shared by the wire specs. A Nagle/delayed-ACK
  * stall costs at least 40 ms per round trip, while a loopback fetch of
  * a small file takes well under a millisecond, so a 20 ms median
  * separates the two with room for a slow host. The median keeps a
  * burst of host CPU steal from failing a spec. */
object WireTiming {
  private val fileName = "small.bin"
  private val fileBytes = 1000

  /** A fresh directory `name` under the scratch root holding one
    * 1,000-byte file. */
  def smallFileDir(name: String): String = {
    val dir = new java.io.File(s"${Tables.scratchRoot}/$name")
    Tables.deleteRecursively(dir); dir.mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, fileName).toPath,
      Array.tabulate(fileBytes)(_.toByte))
    dir.getPath
  }

  /** One warm-up fetch (connect, login, JIT), then 40 sequential
    * fetches on the same client; their median must be under 20 ms. */
  def assertNoRoundTripStall(client: sources.RemoteClient): Unit = {
    assert(client.fetch(fileName).length == fileBytes)
    val ms = (1 to 40).map { _ =>
      val t0 = System.nanoTime()
      assert(client.fetch(fileName).length == fileBytes)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val median = (ms(19) + ms(20)) / 2
    assert(median < 20.0, f"median fetch $median%.1f ms (sorted: ${ms.mkString(", ")})")
  }
}
