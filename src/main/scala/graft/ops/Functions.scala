package graft.ops

import graft.Tables._
import graft.expr.Sanitize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalar-function surface: string/date/math/array/map/json functions plus
  * the ingestion-derived projections (SURVEY.md §2b).
  *
  * Everything here is org.apache.spark.sql.functions built-ins (codegen'd,
  * whole-stage-compatible) — no UDFs in the hot path. The sanitize operator
  * (reference child.py:20-33) lives in [[graft.expr.Sanitize]].
  */
object Functions {

  /** Derive server_folder / file_name / file_type from a URL — the
    * reference's core projection (child.py:16-18 host_port folder,
    * child.py:131-132 extension, 'none' when absent). URLs are built
    * deterministically from the documents table, then parsed back with
    * parse_url — the derive path a real ingest manifest would run. */
  private def projDerive: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val ext = element_at(array(lit("txt"), lit("zip"), lit("pdf"), lit("")),
      (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
    val url = concat(
      lit("sftp://host"), pmod(col("doc_id"), lit(20)),
      lit(".example.com:"), (lit(22) + pmod(col("doc_id"), lit(3))),
      lit("/data/"), col("source"), lit("/file_"), col("doc_id"),
      when(ext === "", lit("")).otherwise(concat(lit("."), ext)))
    val fileName = element_at(split(col("url"), "/"), -1)
    docs
      .select(col("doc_id"), url.as("url"))
      .select(
        col("doc_id"), col("url"),
        // parse_url(PORT) yields null for non-http schemes, so the port
        // comes from a regex (the reference defaults 21/22 the same way,
        // child.py:16-18).
        concat_ws("_", parse_url(col("url"), lit("HOST")),
          regexp_extract(col("url"), "://[^:/]+:([0-9]+)/", 1)).as("server_folder"),
        fileName.as("file_name"),
        Ingest.fileType(fileName).as("file_type"))
      .orderBy("doc_id")
  }

  /** String kernel: case, substring, length, pad, concat, regex, LIKE
    * (sanitize family, child.py:20-33). */
  private def fnString: Q = (s, d) =>
    t(s, d, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        lower(col("p_type")).as("ltype"),
        substring(col("p_name"), 1, 5).as("prefix"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), "[aeiou]", "*").as("devoweled"),
        lpad(col("p_brand"), 12, ".").as("padded"),
        col("p_name").like("%r%").as("has_r"),
        element_at(split(col("p_name"), " "), 1).as("first_word"))
      .orderBy("p_partkey")

  /** URL component extraction — the reference's scheme/host/port
    * dispatch (scrap/child_otherftp.py:129-162, default-port handling
    * child.py:16-18) as a COLUMN kernel over synthesized deterministic
    * URLs: Spark's codegen'd `parse_url` for HOST/PATH/QUERY-param/REF
    * plus regexp_extract for scheme and explicit port. The oracle
    * mirrors with regexes whose semantics coincide with parse_url on
    * well-formed URLs (the synthesized shape). Pure map stage. */
  private def fnUrl: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com:8080/docs/"),
          col("lang"), lit("/"), col("doc_id"),
          lit("?ref="), col("source"), lit("&page="), pmod(col("doc_id"), lit(7)),
          lit("#sec"), pmod(col("doc_id"), lit(3))).as("url"))
      .select(col("doc_id"), col("url"),
        regexp_extract(col("url"), "^([a-z][a-z0-9+.-]*)://", 1).as("scheme"),
        parse_url(col("url"), lit("HOST")).as("host"),
        regexp_extract(col("url"), "^[a-z]+://[^:/?#]+:([0-9]+)", 1)
          .cast("long").as("port"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("page")).as("page_param"),
        parse_url(col("url"), lit("REF")).as("fragment"))
      .orderBy("doc_id")

  /** Date/time kernel: extract, trunc, diff, add_months, epoch
    * (R10/R13 epoch handling, child.py:58,105). Truncated timestamps are
    * emitted as epoch seconds — never raw timestamps (oracle parity). */
  private def fnDate: Q = (s, d) =>
    t(s, d, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        epochS(date_trunc("month", col("o_orderdate"))).as("month_start_s"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since_95"),
        epochS(add_months(col("o_orderdate"), 3).cast("timestamp")).as("plus3m_s"),
        epochS(col("o_orderdate")).as("od_s"))
      .orderBy("o_orderkey")

  /** Math kernel: arithmetic, round/abs/ceil/floor, pmod, power, sqrt
    * (round-robin `i % BATCH_SIZE`, main.py:75). */
  private def fnMath: Q = (s, d) =>
    t(s, d, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        dmul2(col("l_extendedprice"), col("l_discount")).as("disc_amt"),
        abs(col("l_quantity") - 25).as("qty_dev"),
        ceil(col("l_extendedprice") / 1000).cast("long").as("price_k_ceil"),
        floor(col("l_extendedprice") / 1000).cast("long").as("price_k_floor"),
        pmod(col("l_orderkey"), lit(7)).as("bucket"),
        // x*x and sqrt are IEEE-exact single ops on identical inputs —
        // raw doubles match the oracle bitwise; no round (see dsum2 note).
        (col("l_discount") * col("l_discount")).as("disc_sq"),
        sqrt(col("l_quantity")).as("qty_sqrt"))
      .orderBy("l_orderkey", "l_linenumber", "disc_amt", "qty_dev", "bucket")

  /** Array kernel: split/size/contains/distinct + higher-order
    * transform/aggregate (zip member list, child.py:94-121). */
  private def fnArray: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .select(
        col("doc_id"),
        size(col("tokens")).cast("long").as("n_tokens"),
        array_contains(col("tokens"), "spark").as("has_spark"),
        size(array_distinct(col("tokens"))).cast("long").as("n_uniq"),
        aggregate(transform(col("tokens"), x => length(x).cast("long")),
          lit(0L), (acc, x) => acc + x).as("total_len"),
        concat_ws("|", slice(col("tokens"), 1, 3)).as("first3"))
      .orderBy("doc_id")

  /** Map kernel: construct, extract, keys (blob metadata map,
    * child.py:200-204). Output is scalar so the oracle stays relational. */
  private def fnMap: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        map(lit("lang"), col("lang"), lit("src"), col("source"),
          lit("len"), col("n_chars").cast("string")).as("meta"))
      .select(
        col("doc_id"),
        element_at(col("meta"), "lang").as("m_lang"),
        element_at(col("meta"), "src").as("m_src"),
        element_at(col("meta"), "len").cast("long").as("m_len"),
        size(map_keys(col("meta"))).cast("long").as("n_keys"),
        concat_ws(",", map_keys(col("meta"))).as("keys_csv"))
      .orderBy("doc_id")

  /** JSON kernel: extract typed values from events.props. */
  private def fnJson: Q = (s, d) =>
    events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"),
        get_json_object(col("props"), "$.k").isNotNull.as("has_k"))
      .orderBy("event_id")

  /** Semi-structured props through Spark 4's VARIANT type — the scale
    * path for schema-on-read JSON: `parse_json` binary-encodes once at
    * the scan, typed `variant_get` extractions are then O(field) with
    * no per-access string re-parse (fn_json's get_json_object re-parses
    * the full string per extraction). At 100 TB the parse happens once
    * per row instead of once per (row × field). */
  private def fnVariant: Q = (s, d) =>
    events(s, d)
      .select(col("event_id"),
        // try_: malformed rows yield null fields (matching both the
        // oracle's json_extract and fn_json's get_json_object), never
        // a job-killing parse error
        try_parse_json(col("props")).as("v"),
        col("event_type"))
      .select(col("event_id"),
        variant_get(col("v"), "$.k", "long").as("k_val"),
        (variant_get(col("v"), "$.k", "long") % 10).as("k_mod"),
        variant_get(col("v"), "$.missing", "long").isNull.as("no_missing_field"))
      .orderBy("event_id")

  /** Filename sanitize (child.py:20-33; pins from tests/test_basic.py:18-80)
    * applied to adversarial names synthesized from the documents table. */
  private def sanitizeRaw: org.apache.spark.sql.Column =
    concat(lit("  re:p|o?r*t_"), col("doc_id"), lit("ñ"),
      lit("\"fi<le>na\\me "), col("source"), lit(".tx t  "))

  private def fnSanitize: Q = (s, d) => {
    t(s, d, "documents")
      .select(col("doc_id"), sanitizeRaw.as("raw"))
      .select(col("doc_id"), col("raw"), Sanitize.sanitize(col("raw")).as("clean"))
      .orderBy("doc_id")
  }

  /** Same operator through the built-in regexp_replace + trim chain —
    * the fallback implementation ([[Sanitize.sanitizeRegex]]), driven by
    * its own oracle row so BOTH sanitize paths are hash-verified (the
    * native Expression via fn_sanitize, the regex chain here). */
  private def fnSanitizeUdf: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), sanitizeRaw.as("raw"))
      .select(col("doc_id"), col("raw"),
        Sanitize.sanitizeRegex(col("raw")).as("clean"))
      .orderBy("doc_id")

  /** Cryptographic digest kernel: md5 + sha256 over text — manifest
    * fingerprints, cache keys, content addresses (the identity scheme
    * dedup_exact/dedup_binary build on). Codegen'd built-ins; both
    * engines emit lowercase hex. (crc32/sha1/sha512 exist Spark-side
    * but have no DuckDB twin — crc32 parity is covered separately by
    * the python-zlib-pinned ingest oracles.) */
  private def fnHash: Q = (s, d) =>
    t(s, d, "documents")
      .where(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"),
        md5(col("text")).as("md5_hex"),
        sha2(col("text"), 256).as("sha256_hex"),
        length(col("text")).cast("long").as("n_chars_text"))
      .orderBy("doc_id")

  /** Conditional kernel: CASE bands, NULLIF/COALESCE null plumbing,
    * LEAST/GREATEST clamps — the branch-free row logic every derive
    * stage uses (all codegen'd into one projection, no shuffle). */
  private def fnConditional: Q = (s, d) =>
    t(s, d, "lineitem")
      .where(pmod(col("l_orderkey"), lit(100)) === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        when(col("l_quantity") < 10, "small")
          .when(col("l_quantity") < 35, "medium")
          .otherwise("large").as("band"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("none"))
          .as("flag_or_none"),
        least(col("l_quantity"), lit(25.0d)).as("clamped_lo"),
        greatest(col("l_quantity"), lit(25.0d)).as("clamped_hi"))
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")

  /** Bitwise kernel: AND/OR/XOR/shifts on 64-bit keys — flag packing,
    * hash mixing, the Morton interleave family (sink_zorder is the
    * full application). Pure integer math, identical in both engines. */
  private def fnBitwise: Q = (s, d) =>
    t(s, d, "orders")
      .where(pmod(col("o_orderkey"), lit(50)) === 0)
      .select(col("o_orderkey"),
        col("o_orderkey").bitwiseAND(lit(0xFFL)).as("low_byte"),
        col("o_orderkey").bitwiseOR(lit(0x100L)).as("with_flag"),
        col("o_orderkey").bitwiseXOR(col("o_custkey")).as("mixed"),
        shiftleft(col("o_orderkey"), 3).as("shl3"),
        shiftright(col("o_orderkey"), 2).as("shr2"))
      .orderBy("o_orderkey")

  /** Error-safe kernels (try_cast / try_divide): malformed input yields
    * NULL instead of failing the task — at 100 TB a single dirty row
    * three billion rows in must NOT kill the job; the nulls flow to the
    * quarantine/audit side instead. Dirt is derived deterministically
    * (every 7th row's "numeric" field is actually a word; every 5th
    * divisor is zero) so the oracle sees identical rows. */
  private def fnTry: Q = (s, d) =>
    events(s, d)
      .select(col("event_id"),
        when(pmod(col("event_id"), lit(7)) === 0, col("event_type"))
          .otherwise(col("event_id").cast("string")).as("raw"),
        col("value"),
        pmod(col("event_id"), lit(5)).cast("double").as("den"))
      .select(col("event_id"),
        expr("try_cast(raw AS BIGINT)").as("parsed"),
        try_divide(col("value"), col("den")).as("ratio"))
      .withColumn("ok", col("parsed").isNotNull && col("ratio").isNotNull)
      .orderBy("event_id")

  /** Column-level AES crypto (`aes_encrypt`/`aes_decrypt`) — the
    * field-encryption surface next to [[graft.ops.Lake]]'s file-level
    * parquet modular encryption: each document's text encrypts under
    * AES-128-ECB (the deterministic mode — GCM's random IV would make
    * ciphertext bytes run-dependent and unverifiable; real deployments
    * pair deterministic encryption with key rotation exactly so equal
    * plaintexts stay joinable) and decrypts back. The oracle cannot run
    * AES, so the CONTRACT is oracle-checked instead: roundtrip equality
    * and the PKCS#5 length law ct_len = (len div 16 + 1)·16, both
    * derivable from the plaintext alone — a wrong key, mode, or
    * padding breaks one of them. Wrong-key rejection is spec-side
    * (padding-oracle probability makes it inexact over 500 docs). */
  private def fnCrypto: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("ct",
        expr("aes_encrypt(text, '0123456789abcdef', 'ECB')"))
      .withColumn("rt",
        expr("cast(aes_decrypt(ct, '0123456789abcdef', 'ECB') as string)"))
      .select(col("doc_id"),
        (col("rt") === col("text")).as("roundtrip_ok"),
        length(col("ct")).cast("long").as("ct_len"))
      .orderBy("doc_id")

  /** COLLATION-aware grouping (Spark 4's collated string type): the
    * market segment is deliberately case-mangled three ways per
    * customer key, then grouped under `UTF8_LCASE` — the collation
    * MERGES case variants at the grouping level without rewriting the
    * data (where the pre-collation idiom buries a lower() in every
    * query and loses the original bytes). The group representative is
    * the BINARY min of the original strings (a min under the
    * case-insensitive collation would tie across variants and pick
    * nondeterministically — the trap this op documents), lowered for a
    * stable output key. n_case_variants = 3 proves the collation did
    * the merging, not the data. */
  private def fnCollation: Q = (s, d) => {
    val lo = lower(col("c_mktsegment"))
    val mixed = when(pmod(col("c_custkey"), lit(3)) === 0,
        upper(col("c_mktsegment")))
      .when(pmod(col("c_custkey"), lit(3)) === 1, initcap(lo))
      .otherwise(lo)
    t(s, d, "customer").select(col("c_custkey"), mixed.as("seg"))
      .withColumn("seg_ci", expr("collate(seg, 'UTF8_LCASE')"))
      .groupBy(col("seg_ci"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("seg")).as("n_case_variants"),
        min(col("seg")).as("rep"))
      .select(lower(col("rep")).as("segment"), col("n"),
        col("n_case_variants"))
      .orderBy("segment")
  }

  /** EDIT-DISTANCE catalog screen — "which part names are one typo
    * apart": levenshtein (a codegen'd built-in in BOTH engines — no
    * UDF) between SORT-ADJACENT names within each brand, top-20
    * closest pairs. Sort-adjacency is the scale trick: all-pairs
    * edit distance is O(n²·L²); adjacent-in-order comparison is one
    * STREAMING lead() window per brand (no buffer, n−1 pairs total)
    * and catches the near-identical names that matter because string
    * order clusters shared prefixes. All-integer distances; the
    * top-20 sort's total order is (dist, brand, name_a, name_b). */
  private def fnEditdist: Q = (s, d) => {
    val w = Window.partitionBy("p_brand").orderBy("p_name", "p_partkey")
    t(s, d, "part")
      .select(col("p_brand"), col("p_partkey"), col("p_name"))
      .withColumn("name_b", lead(col("p_name"), 1).over(w))
      .where(col("name_b").isNotNull)
      .select(col("p_brand"), col("p_name").as("name_a"), col("name_b"),
        levenshtein(col("p_name"), col("name_b")).cast("long").as("dist"))
      .orderBy(col("dist"), col("p_brand"), col("name_a"), col("name_b"))
      .limit(20)
  }

  val queries: Map[String, Q] = Map(
    "fn_collation" -> fnCollation,
    "fn_editdist" -> fnEditdist,
    "fn_crypto" -> fnCrypto,
    "fn_try" -> fnTry,
    "fn_hash" -> fnHash,
    "fn_conditional" -> fnConditional,
    "fn_bitwise" -> fnBitwise,
    "proj_derive" -> projDerive,
    "fn_string" -> fnString,
    "fn_url" -> fnUrl,
    "fn_date" -> fnDate,
    "fn_math" -> fnMath,
    "fn_array" -> fnArray,
    "fn_map" -> fnMap,
    "fn_json" -> fnJson,
    "fn_variant" -> fnVariant,
    "fn_sanitize" -> fnSanitize,
    // §2b inventory: the non-native (regexp_replace chain) fallback path
    "fn_sanitize_udf" -> fnSanitizeUdf,
  )

  val oracles: Map[String, String] = Map(
    // Same sort-adjacent pairing, same built-in levenshtein, same
    // (dist, brand, name_a, name_b) total order on the top-20.
    "fn_editdist" ->
      """WITH p AS (
           SELECT p_brand, p_name,
                  lead(p_name, 1) OVER (PARTITION BY p_brand
                    ORDER BY p_name, p_partkey) AS name_b
           FROM part)
         SELECT p_brand, p_name AS name_a, name_b,
                CAST(levenshtein(p_name, name_b) AS BIGINT) AS dist
         FROM p WHERE name_b IS NOT NULL
         ORDER BY dist, p_brand, name_a, name_b LIMIT 20""",
    // No collations in the oracle: lower()-grouping is provably the
    // same partition for ASCII segments, binary min the same rep.
    "fn_collation" ->
      """WITH m AS (SELECT c_custkey,
                           CASE WHEN c_custkey % 3 = 0
                                  THEN upper(c_mktsegment)
                                WHEN c_custkey % 3 = 1
                                  THEN upper(substr(lower(c_mktsegment), 1, 1))
                                       || substr(lower(c_mktsegment), 2)
                                ELSE lower(c_mktsegment) END AS seg
                    FROM customer)
         SELECT lower(min(seg)) AS segment, count(*)::BIGINT AS n,
                count(DISTINCT seg)::BIGINT AS n_case_variants
         FROM m GROUP BY lower(seg) ORDER BY segment""",
    // No AES in the oracle: the checked contract is the roundtrip
    // identity and the PKCS#5 ciphertext length law, both plaintext-
    // derivable. The law is over UTF-8 BYTES (octet_length of the
    // encoded text), not characters — length(text) would silently
    // diverge on any non-ASCII document.
    "fn_crypto" ->
      """SELECT doc_id, true AS roundtrip_ok,
                ((octet_length(encode(text)) // 16) + 1) * 16 AS ct_len
         FROM documents ORDER BY doc_id""",
    "fn_try" ->
      """WITH e AS (
           SELECT event_id,
                  CASE WHEN event_id % 7 = 0 THEN event_type
                       ELSE CAST(event_id AS VARCHAR) END AS raw,
                  value, CAST(event_id % 5 AS DOUBLE) AS den
           FROM events)
         SELECT event_id,
                TRY_CAST(raw AS BIGINT) AS parsed,
                value / NULLIF(den, 0) AS ratio,
                (TRY_CAST(raw AS BIGINT) IS NOT NULL
                 AND value / NULLIF(den, 0) IS NOT NULL) AS ok
         FROM e ORDER BY event_id""",
    "fn_hash" ->
      """SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex,
                length(text)::BIGINT AS n_chars_text
         FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""",
    "fn_conditional" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
                CASE WHEN l_quantity < 10 THEN 'small'
                     WHEN l_quantity < 35 THEN 'medium'
                     ELSE 'large' END AS band,
                coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none,
                least(l_quantity, 25.0) AS clamped_lo,
                greatest(l_quantity, 25.0) AS clamped_hi
         FROM lineitem WHERE l_orderkey % 100 = 0
         ORDER BY l_orderkey, l_linenumber, l_quantity""",
    "fn_bitwise" ->
      """SELECT o_orderkey,
                o_orderkey & 255 AS low_byte,
                o_orderkey | 256 AS with_flag,
                xor(o_orderkey, o_custkey) AS mixed,
                (o_orderkey << 3) AS shl3,
                (o_orderkey >> 2) AS shr2
         FROM orders WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""",
    "proj_derive" ->
      """WITH u AS (
           SELECT doc_id,
                  'sftp://host' || (doc_id % 20) || '.example.com:' || (22 + doc_id % 3)
                  || '/data/' || source || '/file_' || doc_id
                  || CASE doc_id % 4 WHEN 0 THEN '.txt' WHEN 1 THEN '.zip'
                                     WHEN 2 THEN '.pdf' ELSE '' END AS url
           FROM documents)
         SELECT doc_id, url,
                regexp_extract(url, '://([^:/]+):([0-9]+)/', 1) || '_' ||
                regexp_extract(url, '://([^:/]+):([0-9]+)/', 2) AS server_folder,
                split_part(url, '/', -1) AS file_name,
                CASE WHEN contains(split_part(url, '/', -1), '.')
                     THEN split_part(split_part(url, '/', -1), '.', -1)
                     ELSE 'none' END AS file_type
         FROM u ORDER BY doc_id""",
    // Same URL synthesis; components via regexes whose semantics
    // coincide with Spark's parse_url on these well-formed URLs.
    "fn_url" ->
      """WITH u AS (
           SELECT doc_id,
                  'https://' || source || '.example.com:8080/docs/' || lang
                  || '/' || doc_id || '?ref=' || source
                  || '&page=' || (doc_id % 7) || '#sec' || (doc_id % 3) AS url
           FROM documents)
         SELECT doc_id, url,
                regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
                regexp_extract(url, '://([^:/?#]+)', 1) AS host,
                regexp_extract(url, '^[a-z]+://[^:/?#]+:([0-9]+)', 1)::BIGINT AS port,
                regexp_extract(url, '^[a-z]+://[^/?#]*(/[^?#]*)', 1) AS path,
                regexp_extract(url, '[?&]page=([^&#]*)', 1) AS page_param,
                regexp_extract(url, '#(.*)$', 1) AS fragment
         FROM u ORDER BY doc_id""",
    "fn_string" ->
      """SELECT p_partkey,
                upper(p_name) AS uname, lower(p_type) AS ltype,
                substring(p_name, 1, 5) AS prefix,
                length(p_name)::BIGINT AS name_len,
                p_brand || '-' || p_type AS brand_type,
                regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
                lpad(p_brand, 12, '.') AS padded,
                p_name LIKE '%r%' AS has_r,
                split_part(p_name, ' ', 1) AS first_word
         FROM part ORDER BY p_partkey""",
    "fn_date" ->
      """SELECT o_orderkey,
                year(o_orderdate)::BIGINT AS y,
                month(o_orderdate)::BIGINT AS m,
                day(o_orderdate)::BIGINT AS dom,
                quarter(o_orderdate)::BIGINT AS q,
                (epoch_us(date_trunc('month', o_orderdate)) // 1000000) AS month_start_s,
                date_diff('day', DATE '1995-01-01', o_orderdate::DATE)::BIGINT AS days_since_95,
                (epoch_us(o_orderdate + INTERVAL 3 MONTH) // 1000000) AS plus3m_s,
                (epoch_us(o_orderdate) // 1000000) AS od_s
         FROM orders ORDER BY o_orderkey""",
    "fn_math" ->
      """SELECT l_orderkey, l_linenumber,
                round(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(l_discount AS DECIMAL(18,4)), 2)::DOUBLE AS disc_amt,
                abs(l_quantity - 25) AS qty_dev,
                ceil(l_extendedprice / 1000)::BIGINT AS price_k_ceil,
                floor(l_extendedprice / 1000)::BIGINT AS price_k_floor,
                l_orderkey % 7 AS bucket,
                l_discount * l_discount AS disc_sq,
                sqrt(l_quantity) AS qty_sqrt
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, disc_amt, qty_dev, bucket""",
    "fn_array" ->
      """SELECT doc_id,
                len(string_split(text, ' '))::BIGINT AS n_tokens,
                list_contains(string_split(text, ' '), 'spark') AS has_spark,
                len(list_distinct(string_split(text, ' ')))::BIGINT AS n_uniq,
                list_sum(list_transform(string_split(text, ' '),
                                        x -> length(x)))::BIGINT AS total_len,
                array_to_string(string_split(text, ' ')[1:3], '|') AS first3
         FROM documents ORDER BY doc_id""",
    "fn_map" ->
      """SELECT doc_id, lang AS m_lang, source AS m_src,
                n_chars AS m_len, 3::BIGINT AS n_keys,
                'lang,src,len' AS keys_csv
         FROM documents ORDER BY doc_id""",
    "fn_json" ->
      """SELECT event_id,
                json_extract_string(props, '$.k')::BIGINT AS k_val,
                json_extract_string(props, '$.k') IS NOT NULL AS has_k
         FROM events ORDER BY event_id""",
    "fn_variant" ->
      """SELECT event_id,
                json_extract_string(props, '$.k')::BIGINT AS k_val,
                json_extract_string(props, '$.k')::BIGINT % 10 AS k_mod,
                json_extract_string(props, '$.missing') IS NULL
                  AS no_missing_field
         FROM events ORDER BY event_id""",
    "fn_sanitize" -> sanitizeOracleSql,
    "fn_sanitize_udf" -> sanitizeOracleSql,
  )

  private lazy val sanitizeOracleSql: String =
    """WITH r AS (
         SELECT doc_id,
                '  re:p|o?r*t_' || doc_id || 'ñ"fi<le>na\me ' || source
                || '.tx t  ' AS raw
         FROM documents)
       SELECT doc_id, raw,
              trim(regexp_replace(raw, '[^A-Za-z0-9._\- ]', '-', 'g'), ' ') AS clean
       FROM r ORDER BY doc_id"""
}
