package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Tar-archive explode — the sibling of [[ZipEntries]] for the other
  * archive family a file-ingest pipeline meets in the wild (software
  * drops, corpus bundles, `.tar.gz` web exports). One archive row → N
  * member rows (name flattened to basename, mtime epoch seconds, size,
  * bytes), used with `explode(...)` as the UDTF/Generator shape;
  * payload bytes stay inside the row.
  *
  * The parser is HAND-ROLLED POSIX ustar (512-byte headers, octal
  * size/mtime, header checksum VERIFIED, data padded to block size,
  * two-zero-block terminator), with transparent gzip sniffing
  * (`1f 8b`) so `.tar.gz` needs no caller dispatch. IngestSpec
  * cross-validates it entry-for-entry against commons-compress's
  * `TarArchiveInputStream` on commons-compress-WRITTEN bytes — proving
  * it reads real-world tars, not a private dialect — and pins that a
  * corrupted header checksum or a member cut short fails loudly.
  *
  * Nested `.tar` / `.tar.gz` members are exploded recursively (the
  * reference re-enters handle_file per member, child.py:114), bounded
  * by [[ZipEntries.MaxDepth]]'s discipline. PAX/global extension
  * headers (typeflags x/g/L…) are skipped with their payloads;
  * directory entries (typeflag '5' or trailing '/') emit nothing.
  */
object TarEntries {

  case class Entry(name: String, mtime: Long, size: Long, content: Array[Byte])

  val MaxDepth = 5

  private def isGzip(b: Array[Byte]): Boolean =
    b.length > 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b

  private def gunzip(b: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b))
    try in.readAllBytes() finally in.close()
  }

  private def octal(h: Array[Byte], off: Int, len: Int): Long = {
    val s = new String(h, off, len, "US-ASCII").trim
      .takeWhile(c => c >= '0' && c <= '7')
    if (s.isEmpty) 0L else java.lang.Long.parseLong(s, 8)
  }

  def extract(bytes: Array[Byte]): Seq[Entry] = extract(bytes, MaxDepth)

  private def extract(bytes0: Array[Byte], depth: Int): Seq[Entry] = {
    val bytes = if (isGzip(bytes0)) gunzip(bytes0) else bytes0
    val out = Seq.newBuilder[Entry]
    var off = 0
    var done = false
    while (!done && off + 512 <= bytes.length) {
      val hdr = java.util.Arrays.copyOfRange(bytes, off, off + 512)
      if (hdr.forall(_ == 0)) done = true // end-of-archive marker
      else {
        // checksum: all 512 header bytes, the checksum field as spaces
        val stored = octal(hdr, 148, 8)
        var sum = 0L
        var i = 0
        while (i < 512) {
          sum += (if (i >= 148 && i < 156) 32 else hdr(i) & 0xff); i += 1
        }
        require(sum == stored,
          s"tar header checksum mismatch at offset $off ($sum != $stored)")
        val nameLen = hdr.indexOf(0.toByte) match {
          case n if n >= 0 && n < 100 => n
          case _ => 100
        }
        val rawName = new String(hdr, 0, nameLen, "US-ASCII")
        val size = octal(hdr, 124, 12)
        // In-memory explode requires the member to fit an Int; a silent
        // negative toInt would also walk `off` BACKWARD (infinite loop
        // on a malicious size field), so bound it loudly.
        require(size >= 0 && size <= Int.MaxValue - 1024L,
          s"tar member size out of supported range: $size")
        val mtime = octal(hdr, 136, 12)
        val typeflag = hdr(156).toChar
        val isFile = (typeflag == '0' || typeflag == 0.toChar) &&
          !rawName.endsWith("/")
        val dataEnd = off + 512 + size.toInt
        require(dataEnd <= bytes.length,
          s"tar member '$rawName' at offset $off truncated: needs bytes " +
            s"up to $dataEnd, archive has ${bytes.length}")
        if (isFile) {
          val content = java.util.Arrays.copyOfRange(bytes, off + 512, dataEnd)
          val base = rawName.split('/').last
          val lower = base.toLowerCase
          if ((lower.endsWith(".tar") || lower.endsWith(".tar.gz") ||
              lower.endsWith(".tgz")) && depth > 1)
            out ++= extract(content, depth - 1)
          else out += Entry(base, mtime, size, content)
        }
        off += 512 + ((size.toInt + 511) / 512) * 512
      }
    }
    out.result()
  }

  /** content BINARY -> ARRAY<STRUCT<name,mtime,size,content>> */
  val tarEntriesUdf = udf((bytes: Array[Byte]) =>
    if (bytes == null) Seq.empty[Entry] else extract(bytes))

  def tar_entries(c: Column): Column = tarEntriesUdf(c)
}
