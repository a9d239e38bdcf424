package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 lake surface: format roundtrips, dynamic partition pruning,
  * SCD2 merge semantics, and sketch mergeability. */
class LakeSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  test("lake_diff classification matches a driver-side set recompute") {
    import org.apache.spark.sql.functions.col
    val keys = Tables.t(spark, SharedSpark.sf, "orders")
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val v1 = keys.filter(_ % 17 != 3)
    val v2 = keys.filter(_ % 19 != 7)
    val expIns = (v2 -- v1).size
    val expDel = (v1 -- v2).size
    val expUpd = (v1 & v2).count(_ % 13 == 5)
    val got = SparkEntry.queries("lake_diff")(spark, SharedSpark.sf)
      .collect().groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(got.getOrElse("insert", 0) === expIns)
    assert(got.getOrElse("delete", 0) === expDel)
    assert(got.getOrElse("update", 0) === expUpd)
    assert(expIns > 0 && expDel > 0 && expUpd > 0,
      "all three change classes must be live at the gate SF")
  }

  test("scan_manifest_prune skips files at the planner (manifest overlap only)") {
    val (total, selected) = ops.Lake.manifestSelect(spark, sf)
    assert(total === 16, s"layout job should emit 16 range files, got $total")
    assert(selected.nonEmpty, "selection must keep the overlapping files")
    assert(selected.size < total,
      s"manifest must prune: kept ${selected.size} of $total")
    // every skipped file is PROVABLY non-overlapping: re-reading the
    // skipped set under the predicate must yield zero rows.
    val skipped = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(
          ops.Lake.manifestLayoutPath(sf)))
        .map(_.getPath.toString).filter(_.endsWith(".parquet"))
        .filterNot(selected.contains)
    }
    val (lo, hi) = ops.Lake.manifestLoHi
    assert(spark.read.parquet(skipped.toIndexedSeq: _*)
      .where(col("l_orderkey").between(lo, hi)).count() === 0)
  }

  test("scan_csv roundtrip is lossless row-for-row (not just in aggregate)") {
    import spark.implicits._
    val src = Tables.t(spark, sf, "documents")
      .select("doc_id", "lang", "source", "n_chars", "text")
    val out = s"${Tables.scratchRoot}/formats_spec/csv"
    src.write.mode("overwrite").option("header", "true")
      .option("escape", "\"").csv(out)
    val back = spark.read
      .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, text STRING")
      .option("header", "true").option("escape", "\"").csv(out)
    assert(back.count() === src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // The format contract that keeps the read splittable at 100 TB:
    // no embedded newlines in any text payload — and no EMPTY text
    // (Spark CSV reads a written "" back as null, so empty strings are
    // the one value the roundtrip cannot carry; the corpus-cleaning
    // ops upstream guarantee non-empty text).
    assert(src.where($"text".contains("\n") || $"text" === "").count() === 0)
  }

  test("scan_xml roundtrip is lossless row-for-row (entity escaping included)") {
    val src = Tables.t(spark, sf, "documents")
      .select("doc_id", "lang", "source", "n_chars", "text")
    val out = s"${Tables.scratchRoot}/formats_spec/xml"
    src.write.mode("overwrite")
      .format("xml").option("rootTag", "docs").option("rowTag", "doc")
      .save(out)
    val back = spark.read.format("xml")
      .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, text STRING")
      .option("rowTag", "doc").load(out)
    assert(back.count() === src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("scan_compressed writes REAL gzip members and reads back losslessly") {
    val src = Tables.t(spark, sf, "documents")
      .select("doc_id", "lang", "source", "n_chars", "text")
    val out = s"${Tables.scratchRoot}/formats_spec/jsonl_gz"
    src.repartition(8).write.mode("overwrite")
      .option("compression", "gzip").json(out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(files.length === 8, "one gzip member per pre-shard")
    // gzip magic bytes prove a real codec ran, not a renamed plain file
    files.foreach { f =>
      val in = new java.io.FileInputStream(f)
      try {
        val magic = Array.ofDim[Byte](2); in.read(magic)
        assert((magic(0) & 0xff) === 0x1f && (magic(1) & 0xff) === 0x8b,
          s"${f.getName}: not a gzip stream")
      } finally in.close()
    }
    val back = spark.read
      .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, text STRING")
      .json(out)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("fn_crypto: real AES bytes (ct != plaintext, ECB-deterministic, wrong key dies)") {
    import org.apache.spark.sql.functions._
    val row = Tables.t(spark, sf, "documents")
      .select(col("text"),
        expr("aes_encrypt(text, '0123456789abcdef', 'ECB')").as("ct"),
        expr("aes_encrypt(text, '0123456789abcdef', 'ECB')").as("ct2"),
        expr("try_aes_decrypt(aes_encrypt(text, '0123456789abcdef', 'ECB'), " +
          "'ffffffffffffffff', 'ECB')").as("wrong"))
      .orderBy("text").limit(8).collect()
    row.foreach { r =>
      val pt = r.getString(0).getBytes("UTF-8")
      val ct = r.getAs[Array[Byte]](1)
      assert(!java.util.Arrays.equals(ct, pt), "ciphertext must differ")
      // deterministic mode: equal plaintext → equal ciphertext (the
      // joinability property ECB buys; GCM would differ per call)
      assert(java.util.Arrays.equals(ct, r.getAs[Array[Byte]](2)))
      // wrong key: null (padding fails) or garbage — never the plaintext
      if (!r.isNullAt(3))
        assert(!java.util.Arrays.equals(r.getAs[Array[Byte]](3), pt))
    }
  }

  test("scan_corrupt_skip: junk is really planted; the default read dies on it") {
    SparkEntry.queries("scan_corrupt_skip")(spark, sf).collect()
    val dir = Scratch.path("formats/corrupt_skip", sf)
    val junk = new java.io.File(dir, "part-99999-junk.parquet")
    assert(junk.exists() && junk.length() === 4096)
    // without the option the garbage file is a hard failure — the skip
    // behavior is the option's doing, not silent tolerance
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.parquet(dir).count()
    }
    assert(e.getMessage.contains("FAILED_READ_FILE") ||
      e.getCause != null)
  }

  test("join_scd2_asof resolves every order to exactly one version") {
    val rows = SparkEntry.queries("join_scd2_asof")(spark, sf).collect()
    val total = rows.map(_.getLong(2)).sum
    assert(total === Tables.t(spark, sf, "orders").count(),
      "each order must land in exactly one validity span")
    assert(rows.map(_.getLong(0)).toSeq.sorted ===
      rows.map(_.getLong(0)).toSeq, "ordered by version")
  }

  test("scan_avro roundtrip is lossless row-for-row; both codecs present") {
    val src = Tables.t(spark, sf, "documents")
      .select("doc_id", "lang", "source", "n_chars", "text")
    val dir = ops.Lake.buildAvroFixture(spark, sf)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).sortBy(_.getName)
    assert(files.length === 4, "one container per pre-shard")
    val back = spark.read.format("binaryFile").load(s"$dir/*.avro")
      .select(explode(graft.expr.AvroRows.avro_docs(col("content"))).as("r"))
      .select("r.doc_id", "r.lang", "r.source", "r.n_chars", "r.text")
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // codec metadata: even shards null, odd shards deflate — both of
    // the spec-required codecs are genuinely exercised
    val codecs = files.map { f =>
      val r = new org.apache.avro.file.DataFileReader(
        f, new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try r.getMetaString("avro.codec") finally r.close()
    }
    assert(codecs.toSeq === Seq(null, "deflate", null, "deflate"))
  }

  test("AvroRows matches avro-core's DataFileReader record-for-record") {
    val dir = ops.Lake.buildAvroFixture(spark, sf)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).sortBy(_.getName)
    files.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val (names, rows) = graft.expr.AvroRows.extract(bytes)
      assert(names === Seq("doc_id", "lang", "source", "n_chars", "text"))
      val r = new org.apache.avro.file.DataFileReader(
        f, new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try {
        var i = 0
        while (r.hasNext) {
          val rec = r.next()
          assert(rows(i)(0) === rec.get("doc_id"))
          assert(rows(i)(1) === rec.get("lang").toString)
          assert(rows(i)(4) === rec.get("text").toString)
          i += 1
        }
        assert(i === rows.length, s"${f.getName}: row count")
      } finally r.close()
    }
  }

  test("AvroRows decodes every supported primitive vs avro-core bytes") {
    val schema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"Mixed","fields":[
           {"name":"i","type":"int"},{"name":"l","type":"long"},
           {"name":"s","type":"string"},{"name":"d","type":"double"},
           {"name":"f","type":"float"},{"name":"b","type":"boolean"},
           {"name":"raw","type":"bytes"}]}""")
    val bos = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
    w.create(schema, bos)
    val cases = Seq(
      (0, 0L, "", 0.0, 0.0f, false, Array[Byte]()),
      (-1, Long.MinValue + 1, "héllo ✓", -2.5, 3.25f, true,
        Array[Byte](0, 1, -1, 127)),
      (Int.MaxValue, Long.MaxValue, "x" * 300, Double.MinPositiveValue,
        Float.NaN, true, Array[Byte](-128)))
    cases.foreach { case (i, l, s0, d0, f0, b0, raw) =>
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("i", i); rec.put("l", l); rec.put("s", s0); rec.put("d", d0)
      rec.put("f", f0); rec.put("b", b0)
      rec.put("raw", java.nio.ByteBuffer.wrap(raw))
      w.append(rec)
    }
    w.close()
    val (names, rows) = graft.expr.AvroRows.extract(bos.toByteArray)
    assert(names === Seq("i", "l", "s", "d", "f", "b", "raw"))
    assert(rows.length === cases.length)
    cases.zip(rows).foreach { case ((i, l, s0, d0, f0, b0, raw), got) =>
      assert(got(0) === i && got(1) === l && got(2) === s0 && got(5) === b0)
      assert(java.lang.Double.doubleToLongBits(got(3).asInstanceOf[Double])
        === java.lang.Double.doubleToLongBits(d0))
      assert(java.lang.Float.floatToIntBits(got(4).asInstanceOf[Float])
        === java.lang.Float.floatToIntBits(f0))
      assert(got(6).asInstanceOf[Array[Byte]].toSeq === raw.toSeq)
    }
  }

  test("AvroRows fails loudly on a flipped block-sync byte") {
    val dir = ops.Lake.buildAvroFixture(spark, sf)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).minBy(_.getName)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    assert(graft.expr.AvroRows.extract(bytes)._2.nonEmpty) // sanity: parses clean
    val tampered = bytes.clone()
    tampered(tampered.length - 1) = (tampered(tampered.length - 1) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException] {
      graft.expr.AvroRows.extract(tampered)
    }
    assert(e.getMessage.contains("sync marker"))
  }

  test("sink_parquet_encrypted: PARE magic, keyless read fails, tamper fails GCM") {
    SparkEntry.queries("sink_parquet_encrypted")(spark, sf).collect()
    val dir = new java.io.File(ops.Lake.encryptedDir)
    val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    // encrypted-footer parquet replaces the PAR1 magic with PARE at
    // BOTH ends of the file — the physical proof encryption happened
    files.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      assert(new String(bytes.take(4), "US-ASCII") === "PARE", f.getName)
      assert(new String(bytes.takeRight(4), "US-ASCII") === "PARE", f.getName)
    }
    // a reader WITHOUT the key material must fail loudly, not leak rows
    val noKeys = intercept[Throwable] {
      spark.read.parquet(ops.Lake.encryptedDir).collect()
    }
    assert(noKeys.getMessage != null)
    // a single flipped ciphertext byte must fail GCM authentication
    val victim = files.head
    val tampered = s"${Tables.scratchRoot}/formats_spec/tampered_enc"
    val tdir = new java.io.File(tampered)
    org.apache.commons.io.FileUtils.deleteQuietly(tdir); tdir.mkdirs()
    // flip the LAST FOOTER CIPHERTEXT byte (tail layout is
    // [footer ct][4-byte len][PARE]) — the footer is always GCM'd in
    // encrypted-footer mode, so this fails authentication
    // deterministically (a random mid-file byte might land in an
    // unlisted column's plaintext pages)
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    bytes(bytes.length - 9) = (bytes(bytes.length - 9) ^ 0x01).toByte
    java.nio.file.Files.write(
      new java.io.File(tdir, victim.getName).toPath, bytes)
    intercept[Throwable] {
      spark.read.options(ops.Lake.cryptoConf).parquet(tampered).collect()
    }
    // and WITH keys, the plaintext round-trips exactly
    val src = Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    val back = spark.read.options(ops.Lake.cryptoConf)
      .parquet(ops.Lake.encryptedDir)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("scan_json roundtrip is lossless row-for-row") {
    val src = Tables.t(spark, sf, "documents")
      .select("doc_id", "lang", "source", "n_chars", "text")
    val out = s"${Tables.scratchRoot}/formats_spec/json"
    src.write.mode("overwrite").json(out)
    val back = spark.read
      .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, text STRING")
      .json(out)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("scan_dpp plans a dynamic-pruning subquery into the fact scan") {
    // Build the partitioned fact (side effect of the query), then
    // inspect the join plan itself.
    SparkEntry.queries("scan_dpp")(spark, sf).collect()
    val plan = graft.ops.Lake.dppJoinPlan(spark)
      .queryExecution.executedPlan.toString()
    // The pruning expression must sit in the FACT SCAN's
    // PartitionFilters — 'dynamicpruning' merely appearing elsewhere
    // in the plan (e.g. only in the subquery section) still reads all
    // 7 partitions.
    val factScanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("orders_by_year"))
    assert(factScanLine.isDefined, plan)
    assert(factScanLine.get.contains("PartitionFilters:") &&
      factScanLine.get.contains("dynamicpruningexpression"), factScanLine.get)
    // And the pruning must actually happen: the fact SCAN must emit
    // only the 2 selected years' rows, not the full table (metric read
    // from the final adaptive plan — AQE hides executed leaves behind
    // the AdaptiveSparkPlanExec wrapper).
    val df = graft.ops.Lake.dppJoinPlan(spark)
    val expected = Tables.t(spark, sf, "orders")
      .where(year(col("o_orderdate")).isin(2000, 2001)).count()
    df.collect()
    // AQE wraps executed subtrees in QueryStageExec LEAVES (children is
    // empty), so plain collect() never reaches the scan — recurse
    // through stage/adaptive wrappers explicitly.
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case _ => Nil
      }
      p +: (p.children ++ inner).flatMap(allNodes)
    }
    val scanned = allNodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.toString.contains("orders_by_year") => f
    }.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    assert(scanned === expected,
      s"fact scan emitted $scanned rows; pruned read should emit $expected")
  }

  test("sink_scd2 layout resolves an as-of lookup to exactly one version per key") {
    SparkEntry.queries("sink_scd2")(spark, sf).collect()
    val snap = spark.read.parquet(s"${Tables.scratchRoot}/scd2/snap1")
    val cust = Tables.t(spark, sf, "customer")
    // Exactly one OPEN version per key, total keys preserved.
    val openPerKey = snap.where(col("valid_to").isNull)
      .groupBy("c_custkey").count()
    assert(openPerKey.where(col("count") =!= 1).count() === 0)
    assert(openPerKey.count() === cust.count())
    // As-of time 0: every key resolves to its version-0 row (changed
    // keys' v0 is closed with valid_to=1 > 0, still visible at t=0).
    val asOf0 = snap.where(col("valid_from") <= 0 &&
      (col("valid_to").isNull || col("valid_to") > 0))
    assert(asOf0.count() === cust.count())
    assert(asOf0.where(col("version") =!= 0).count() === 0)
    // Changed keys carry exactly 2 versions; their open row is v1 with
    // the updated balance.
    val changed = snap.where(pmod(col("c_custkey"), lit(7)) === 0)
    val perKey = changed.groupBy("c_custkey").count()
    assert(perKey.where(col("count") =!= 2).count() === 0)
    assert(changed.where(col("valid_to").isNull && col("version") =!= 1)
      .count() === 0)
  }

  test("sink_parquet_tuned writes ZSTD files with multiple row groups") {
    // sf0.01 (not the default sf0.001 fixture): 600 rows fit one row
    // group at any block size, so the multi-group assertion needs the
    // 60k-row table for the 1 MiB target to bite.
    SparkEntry.queries("sink_parquet_tuned")(spark, "/root/testdata/sf0.01")
      .collect()
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    import scala.jdk.CollectionConverters._
    val files = fs.listStatus(
        new org.apache.hadoop.fs.Path(graft.ops.Lake.tunedDir))
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val footers = files.toSeq.map { st =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
      try rd.getFooter.getBlocks.asScala.toSeq.map(_.getColumns.asScala.head)
      finally rd.close()
    }
    // Every column chunk is ZSTD-compressed...
    assert(footers.flatten.forall(
      _.getCodec == org.apache.parquet.hadoop.metadata.CompressionCodecName.ZSTD))
    // ...and the 1 MiB block target produced more than one row group
    // overall, so min/max stats stay selective within a file.
    assert(footers.map(_.size).sum > footers.size,
      s"row groups per file: ${footers.map(_.size).mkString(",")}")
  }

  test("sink_parquet_bloom writes blooms for the indexed column and proves absence") {
    SparkEntry.queries("sink_parquet_bloom")(spark, "/root/testdata/sf0.01")
      .collect()
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    import scala.jdk.CollectionConverters._
    val files = fs.listStatus(
        new org.apache.hadoop.fs.Path(graft.ops.Lake.bloomDir))
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    var sawBloom = false
    files.foreach { st =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
      try rd.getFooter.getBlocks.asScala.foreach { block =>
        val byName = block.getColumns.asScala
          .map(c => c.getPath.toDotString -> c).toMap
        // bloom on the indexed column only — each bloom page costs
        // bytes, so un-probed columns must not pay for one
        assert(byName("o_custkey").getBloomFilterOffset >= 0,
          "o_custkey must carry a bloom filter")
        assert(byName("o_orderkey").getBloomFilterOffset < 0,
          "o_orderkey must NOT carry a bloom filter")
        // the bloom must prove a planted-absent key out of this group
        val bloom = rd.getBloomFilterDataReader(block)
          .readBloomFilter(byName("o_custkey"))
        assert(bloom != null)
        assert(!bloom.findHash(bloom.hash(java.lang.Long.valueOf(-987654321L))),
          "bloom must exclude a key that was never written")
        sawBloom = true
      } finally rd.close()
    }
    assert(sawBloom)
  }

  test("embed_normalize emits unit vectors (norm of normalized = 1)") {
    import spark.implicits._
    val e = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm",
        sqrt(aggregate(transform(col("emb"), x => x * x),
          lit(0.0), (a, v) => a + v)))
      .withColumn("unit", transform(col("emb"), x => x / col("nrm")))
      .withColumn("unit_nrm",
        sqrt(aggregate(transform(col("unit"), x => x * x),
          lit(0.0), (a, v) => a + v)))
    val offBy = e.select(max(abs(col("unit_nrm") - 1.0d))).as[Double].head()
    assert(offBy < 1e-12, s"max |unit norm - 1| = $offBy")
  }

  test("sim_range_search result is a subset of brute-force range search at the same tau") {
    import spark.implicits._
    val got = SparkEntry.queries("sim_range_search")(spark, sf)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val e = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val brute = e.select(col("vec_id").as("a_id"), col("emb").as("ea"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("emb").as("eb")))
      .where(col("a_id") < col("b_id"))
      .withColumn("dotp",
        aggregate(zip_with(col("ea"), col("eb"), (x, y) => x * y),
          lit(0.0), (a, v) => a + v))
      .withColumn("na",
        sqrt(aggregate(transform(col("ea"), x => x * x), lit(0.0), (a, v) => a + v)))
      .withColumn("nb",
        sqrt(aggregate(transform(col("eb"), x => x * x), lit(0.0), (a, v) => a + v)))
      .where(col("dotp") / (col("na") * col("nb")) >= 0.45d)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(brute),
      s"LSH returned non-neighbours: ${got -- brute}")
  }

  test("agg_hll_merge is self-auditing: rel_err ≤ 5%, sharded union == direct sketch") {
    import spark.implicits._
    // Numeric tolerance on the production (audit-off) estimates; the
    // gate (audit-on) output is the exact witness + corridor boolean
    // the driver hash-checks — both must agree.
    val prod = ops.Lake.aggHllMergePlan(spark, sf, audit = false).collect()
    assert(prod.nonEmpty)
    val exact = Tables.t(spark, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n"))
      .as[(String, Long)].collect().toMap
    val approx = prod.map(r =>
      r.getString(0) -> r.getAs[Long]("approx_customers")).toMap
    approx.foreach { case (k, a) =>
      val e = exact(k)
      assert(math.abs(a - e).toDouble / math.max(e, 1L) <= 0.05,
        s"$k: rel_err ${math.abs(a - e).toDouble / e} > 5%")
    }
    val gate = SparkEntry.queries("agg_hll_merge")(spark, sf).collect()
    assert(gate.nonEmpty)
    gate.foreach { r =>
      assert(r.getAs[Boolean]("within_tol"), s"${r.getString(0)}: corridor")
      assert(r.getAs[Long]("exact_customers") === exact(r.getString(0)))
    }
    // Mergeability: uniting 8 shard sketches must give the SAME
    // registers (hence estimate) as sketching the whole group directly
    // — the property that lets partial sketches persist per-partition
    // and re-merge across jobs without rescanning.
    val direct = Tables.t(spark, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"), lit(12)))
        .as("n"))
      .as[(String, Long)].collect().toMap
    assert(direct === approx)
  }

  test("dynamic partition overwrite rewrites only the touched partition") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    def listing(dir: String): Set[String] = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    val base = s"${Tables.scratchRoot}/dynover_spec"
    Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1)).toDF("v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(base)
    val untouchedBefore = listing(s"$base/p=1")
    val touchedBefore = listing(s"$base/p=0")
    Seq((9L, 0)).toDF("v", "p")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("p").parquet(base)
    // p=1's files survive byte-for-byte (same names, never rewritten);
    // p=0 was replaced. Static mode would have truncated p=1 away.
    assert(listing(s"$base/p=1") === untouchedBefore)
    assert(listing(s"$base/p=0") !== touchedBefore)
    val readBack = spark.read.parquet(base)
      .select("v", "p").as[(Long, Int)].collect().toSet
    assert(readBack === Set((9L, 0), (3L, 1), (4L, 1)))
  }

  test("mergeMv handles insert of a NEW group and full deletion of a group") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // MV has groups 1994 (2 rows, 30.00) and 1995 (1 row, 5.00).
    val mv0 = Seq((1994, 2L, 30.0), (1995, 1L, 5.0)).toDF("yr", "n", "v")
      .select(col("yr"), col("n"), Tables.dec(col("v")).as("tot"))
    // Delta: INSERT two rows into brand-new group 1996 (absent from the
    // MV — a left-join merge would silently drop it), and DELETE
    // 1995's only row (merged count 0 — the group must vanish).
    val deltaAgg = Seq((1996, 2L, 12.5), (1995, -1L, -5.0))
      .toDF("yr", "dn", "dv")
      .select(col("yr"), col("dn"), Tables.dec(col("dv")).as("dtot"))
    val merged = graft.ops.Lake.mergeMv(mv0, deltaAgg)
      .orderBy("yr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(merged.toSeq ==
      Seq((1994L, 2L, 30.0), (1996L, 2L, 12.5)))
  }

  test("mv_incremental delta merge equals a full recompute, exactly") {
    import org.apache.spark.sql.functions._
    val maintained = SparkEntry.queries("mv_incremental")(spark, SharedSpark.sf)
    // Independent recompute over the restated table, same decimal
    // discipline (round once, on the merged DECIMAL).
    val recomputed = Tables.t(spark, SharedSpark.sf, "orders")
      .select(year(col("o_orderdate")).as("yr"),
        when(year(col("o_orderdate")) === 1995,
          col("o_totalprice") + 1.0d).otherwise(col("o_totalprice"))
          .as("price"))
      .groupBy("yr")
      .agg(count(lit(1)).as("n"), Tables.dsum2(col("price")).as("total"))
      .select(col("yr").cast("long").as("yr"), col("n"), col("total"))
    assert(maintained.exceptAll(recomputed).isEmpty)
    assert(recomputed.exceptAll(maintained).isEmpty)
    // Counts must survive an update-only delta untouched (retraction
    // pairs cancel): every group keeps its base cardinality.
    val baseN = Tables.t(spark, SharedSpark.sf, "orders")
      .groupBy(year(col("o_orderdate")).cast("long").as("yr")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    maintained.collect().foreach { r =>
      assert(r.getLong(1) === baseN(r.getLong(0)))
    }
  }

  test("scan_agg_pushdown answers min/max/count from parquet footers") {
    // the frame is built on its own scoped session
    val df = ops.Lake.aggPushdownFrame(spark, SharedSpark.sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [COUNT(*)"),
      s"aggregate not pushed to the scan:\n${plan.take(600)}")
    assert(plan.contains("MIN(l_orderkey)") && plan.contains("MAX(l_orderkey)"),
      "min/max must be footer-answered")
  }

  test("sink_wap: failed audit publishes nothing, commits are atomic and immutable") {
    import java.nio.file.{Files, Paths}
    SparkEntry.queries("sink_wap")(spark, SharedSpark.sf).collect()
    val base = ops.Lake.wapBase(SharedSpark.sf)
    // The poisoned third commit staged files but never published:
    // HEAD still points at v2 and no v3 manifest exists.
    assert(Files.readString(Paths.get(s"$base/HEAD")).trim == "2")
    assert(Files.exists(Paths.get(s"$base/files/v3")),
      "staged files remain orphaned (GC's job, not rollback's)")
    assert(!Files.exists(Paths.get(s"$base/manifests/v3.txt")))
    // Manifests are append-only snapshots: v2 = v1 files + one dir.
    val v1 = ops.Lake.wapResolve(base, Some(1))
    val v2 = ops.Lake.wapResolve(base, Some(2))
    assert(v2.startsWith(v1) && v2.size == v1.size + 1)
    // No HEAD.tmp left behind by the atomic swap.
    assert(!Files.exists(Paths.get(s"$base/HEAD.tmp")))
  }

  test("scan_snapshot time travel reads exactly the v1 batch") {
    val v1 = SparkEntry.queries("scan_snapshot")(spark, SharedSpark.sf)
      .collect()
    assert(v1.nonEmpty)
    assert(v1.forall(_.getLong(0) % 10 == 0))
    // The current table strictly extends the snapshot.
    val cur = SparkEntry.queries("sink_wap")(spark, SharedSpark.sf).collect()
    assert(cur.length > v1.length)
    val curKeys = cur.map(_.getLong(0)).toSet
    assert(v1.forall(r => curKeys.contains(r.getLong(0))))
  }

  test("MV lifecycle: IVM delta-fold refresh re-registers and a fresh consumer reads it THROUGH the rewrite") {
    // Composes the pair: mergeMv (refresh half) → MvRewrite.rewrite
    // with the refreshed parquet (consumer half). A consumer that
    // constructs the post-delta aggregate from scratch must (a) be
    // plan-swapped onto the REFRESHED parquet — never touching the
    // base table — and (b) return rows exactly equal to the
    // unrewritten full recompute.
    val o = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("long").as("yr"))
    // consumer-facing definition over the RESTATED base (delta applied)
    def define = o
      .withColumn("o_totalprice",
        when(col("yr") === 1995L, col("o_totalprice") + 1.0d)
          .otherwise(col("o_totalprice")))
      .groupBy("yr")
      .agg(count(lit(1)).as("n"),
        round(sum(Tables.dec(col("o_totalprice"))), 2).cast("double")
          .as("total"))
    // yesterday's MV state: algebraic partials over the PRE-delta base
    val mv0 = o.groupBy("yr")
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec(col("o_totalprice"))).as("tot"))
    // the CDC delta: 1995 restated as retraction + insert, sign-folded
    val oldRows = o.where(col("yr") === 1995L).withColumn("sign", lit(-1L))
    val newRows = o.where(col("yr") === 1995L)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0d)
      .withColumn("sign", lit(1L))
    val deltaAgg = oldRows.unionByName(newRows)
      .groupBy("yr")
      .agg(sum(col("sign")).as("dn"),
        sum(col("sign") * Tables.dec(col("o_totalprice"))).as("dtot"))
    // refresh: O(|delta|) fold into a new parquet
    val path = s"${Tables.scratchRoot}/mv/refresh_rewrite_test"
    graft.ops.Lake.mergeMv(mv0, deltaAgg)
      .write.mode("overwrite").parquet(path)
    val refreshed = spark.read.parquet(path)
    // oracle first (no rewrite): full recompute over the restated base
    val expect = define.orderBy("yr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // fresh consumer through the rewrite, given the refreshed view
    val q = graft.plans.MvRewrite.rewrite(define.orderBy("yr"),
      define -> refreshed)
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("refresh_rewrite_test"),
      s"consumer must scan the refreshed MV parquet:\n$plan")
    assert(!plan.contains("orders.parquet"),
      s"consumer must NOT touch the base table:\n$plan")
    val got = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === expect,
      "rows read through the rewrite must equal the full recompute")
    assert(got.nonEmpty)
  }

  test("mv_incremental_join: bilinear delta equals recompute, deltas broadcast") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("mv_incremental_join")(spark, SharedSpark.sf)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val full = Tables.t(spark, SharedSpark.sf, "orders")
      .join(Tables.t(spark, SharedSpark.sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("c_mktsegment"),
        (Tables.dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      .orderBy("o_orderkey", "c_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === full.toSeq,
      "ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB over the standing MV must rebuild the view")
    // refresh-cost shape: all three delta legs broadcast the
    // delta-sized side — never a full shuffle of the base
    val p = df.queryExecution.executedPlan.toString()
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }
}
