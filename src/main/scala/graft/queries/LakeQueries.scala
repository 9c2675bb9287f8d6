package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{BlockShuffling, Rng, SamplingStrategy, ScCollection}
import graft.functions.TopKAgg
import graft.ops.{LayoutOps, PiiOps, SketchOps, SplitOps, TextOps}

/** Lake and audit queries: source reads and round-trips, versioned
  * lake maintenance (compaction, time travel, deletes, merges, pruning),
  * data-quality profiling, sketches and privacy checks.
  */
object LakeQueries extends QueryDomain("lake") {

  /** Per-PROCESS scratch root for the persisted-index queries.
    * `createTempDirectory` makes the path unique per run, so two concurrent
    * harness runs over the same data dir can never race on the
    * mode(overwrite) index writes; the shutdown hook removes the artifacts
    * when the JVM exits (the indexes must outlive the lazy query plan that
    * reads them, so deletion inside the query builder is not an option). */
  private[queries] lazy val runTmp: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_run_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toString
  }

  private def dayEvents(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("day",
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
      .withColumn("vmic",
        floor(col("value") * lit(1000000.0)).cast("long"))
      .select("event_id", "event_type", "day", "vmic")

  private val cut1 = 19732L // 2024-01-10

  private val cut2 = 19742L // 2024-01-20

  private def buildSliced(s: org.apache.spark.sql.SparkSession, dir: String,
      p: String): Unit =
    if (LayoutOps.latestVersion(s, p) < 0) {
      val e = dayEvents(s, dir)
      LayoutOps.commitAppend(e.where(col("day") < cut1), p,
        statsCols = Seq("day"))
      LayoutOps.commitAppend(
        e.where(col("day") >= cut1 && col("day") < cut2), p,
        statsCols = Seq("day"))
      LayoutOps.commitAppend(e.where(col("day") >= cut2), p,
        statsCols = Seq("day"))
    }

  /** Shared token stream for the CMS queries: one whitespace token per
    * row, the "approximate token frequency" use case. */
  private def tokStream(s: SparkSession, dir: String): DataFrame =
    Tables.docs(s, dir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))

  /** Probe set for [[SketchOps.cmsEstimate]]: three real tokens plus one
    * never in the corpus — the n_est = 0 path the left-join fix exists
    * for. */
  private val CmsProbes = Seq("join", "scan", "the", "zz_unseen")

  // Shared bucket expression fragments for the oracle replays.
  private[queries] val TokList =
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"

  private def cmsGridSql(src: String): String =
    s"""WITH toks AS (
       |  SELECT unnest($TokList) AS tok FROM $src
       |),
       |h AS (SELECT unnest(generate_series(0, 3)) AS row, tok FROM toks)
       |SELECT row,
       |  (('0x' || substr(md5(concat_ws('|', row, tok)), 1, 15))::BIGINT
       |    % 64) AS slot,
       |  count(*)::BIGINT AS n
       |FROM h GROUP BY 1, 2""".stripMargin

  /** The documents-length HDR bucketing, shared by hist + quantiles. */
  private val HdrBuckets =
    """SELECT (sh::BIGINT * 32 + (v >> sh)) AS bucket_id,
      |       ((v >> sh) << sh)::BIGINT AS lb,
      |       (((v >> sh) << sh) + ((1::BIGINT << sh) - 1))::BIGINT AS ub,
      |       count(*)::BIGINT AS n
      |FROM (
      |  SELECT v, greatest(0, length(bin(v)) - 1 - 4) AS sh
      |  FROM (SELECT n_chars::BIGINT AS v FROM documents))
      |GROUP BY 1, 2, 3""".stripMargin

  private val GroupedBuckets =
    """SELECT grp, (sh::BIGINT * 32 + (v >> sh)) AS bucket_id,
      |       ((v >> sh) << sh)::BIGINT AS lb,
      |       (((v >> sh) << sh) + ((1::BIGINT << sh) - 1))::BIGINT AS ub,
      |       count(*)::BIGINT AS n
      |FROM (
      |  SELECT lang AS grp, n_chars::BIGINT AS v,
      |    greatest(0, length(bin(n_chars::BIGINT)) - 1 - 4) AS sh
      |  FROM documents)
      |GROUP BY 1, 2, 3, 4""".stripMargin

  val entries: Seq[(String, Q)] = Seq(
    // A1: class/frequency count
    "a1_class_count" -> Q((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy("lang").agg(count(lit(1)).as("cnt")),
      "SELECT lang, count(*) AS cnt FROM documents GROUP BY lang"),

    // S2: ordered union of per-file collections with rowId offsets (the
    // AnnCollection analogue — same file read twice stands in for 2 files)
    "s2_union_files" -> Q((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet").select("c_custkey")
      ScCollection.union(Seq("f0" -> cust, "f1" -> cust), Seq(col("c_custkey")))
        .df.select(col("row_id"), col("source_file"), col("c_custkey"))
    },
      """WITH r AS (
        |  SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS row_id
        |  FROM customer
        |)
        |SELECT row_id, 'f0' AS source_file, c_custkey FROM r
        |UNION ALL
        |SELECT row_id + (SELECT count(*) FROM customer) AS row_id,
        |       'f1' AS source_file, c_custkey FROM r""".stripMargin),

    // O5: sort-before-fetch — within every fetch window the storage I/O
    // order is ascending row_id regardless of the shuffled epoch order.
    // Built from the strategy plan directly: the within-fetch yield
    // permutation is irrelevant to I/O order, so its window is skipped.
    "o5_fetch_order" -> Q((s, dir) => {
      val plan = BlockShuffling(blockSize = 32, rng = Rng.Md5)
        .plan(SamplingQueries.li(s, dir), 42L)
        .withColumn("fetch_id", floor(col(SamplingStrategy.Ord) / 128))
      val w = Window.partitionBy("fetch_id").orderBy("row_id")
      plan
        .withColumn("io_pos", (row_number().over(w) - 1).cast("long"))
        .select(col("l_orderkey"), col("l_linenumber"), col("fetch_id"),
          col("io_pos"))
    },
      s"""${SamplingQueries.RankedCte},
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'block', '42', (row_id // 32)::VARCHAR)) AS bkey
         |  FROM ranked
         |),
         |o AS (
         |  SELECT l_orderkey, l_linenumber, row_id,
         |         row_number() OVER (ORDER BY bkey, row_id) - 1 AS ord
         |  FROM k
         |),
         |f AS (SELECT *, ord // 128 AS fetch_id FROM o)
         |SELECT l_orderkey, l_linenumber, fetch_id,
         |       row_number() OVER (PARTITION BY fetch_id ORDER BY row_id) - 1 AS io_pos
         |FROM f""".stripMargin),

    // Deterministic shuffled shard layout for training export: 8 shards,
    // hash-assigned, hash-ordered within shard (WebDataset convention)
    "o5_export_shards" -> Q((s, dir) =>
      SplitOps.exportShards(Tables.docs(s, dir).select(col("doc_id")),
        col("doc_id"), seed = 5L, nShards = 8),
      {
      val sk = graft.core.Rng.Md5.sortKeySql(5L, "shard", Seq("doc_id"))
      s"""WITH r AS (SELECT doc_id, $sk AS sk FROM documents),
         |s AS (
         |  SELECT doc_id, sk,
         |    ('0x' || substr(sk, 1, 8))::BIGINT % 8 AS shard
         |  FROM r
         |)
         |SELECT doc_id, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY sk, doc_id) - 1 AS pos
         |FROM s""".stripMargin
    }),

    // Hierarchical corpus census: doc/char totals at (source, lang),
    // per-source subtotal, and grand total in ONE pass — Spark's rollup
    // plans a single Expand+aggregate, not three scans
    "a1_rollup" -> Q((s, dir) =>
      Tables.docs(s, dir).rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars")),
      """SELECT source, lang, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin),

    // Pivot census: docs per (source × lang) as a wide table — one
    // Expand-free pivot aggregate, fixed column set for determinism
    "a1_pivot" -> Q((s, dir) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val p = Tables.docs(s, dir).groupBy("source")
        .pivot("lang", langs).agg(count(lit(1)))
      p.select(col("source") +:
        langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
    },
      """SELECT source,
        |  (count(*) FILTER (WHERE lang = 'de'))::BIGINT AS de,
        |  (count(*) FILTER (WHERE lang = 'en'))::BIGINT AS en,
        |  (count(*) FILTER (WHERE lang = 'es'))::BIGINT AS es,
        |  (count(*) FILTER (WHERE lang = 'fr'))::BIGINT AS fr,
        |  (count(*) FILTER (WHERE lang = 'zh'))::BIGINT AS zh
        |FROM documents GROUP BY source""".stripMargin),

    // Equi-width doc-length histogram: 100-char buckets, top-coded at 19
    "a1_length_hist" -> Q((s, dir) =>
      Tables.docs(s, dir)
        .groupBy(least(floor(col("n_chars") / 100), lit(19L)).cast("long")
          .as("bucket"))
        .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars")),
      """SELECT least(n_chars // 100, 19)::BIGINT AS bucket,
        |  count(*)::BIGINT AS n_docs,
        |  min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars
        |FROM documents GROUP BY 1""".stripMargin),

    // Equi-depth histogram: 10 equal-count doc-length bins via the
    // range-partitioned Ranker (no single-partition window)
    "a1_equidepth_hist" -> Q((s, dir) => {
      val d = Tables.docs(s, dir).select("doc_id", "n_chars")
      val r = graft.core.Ranker.withRank(d, "rn", col("n_chars"),
        col("doc_id"))
      r.crossJoin(broadcast(r.agg(count(lit(1)).as("n"))))
        .groupBy(expr("(rn * 10) div n").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
    },
      """WITH r AS (SELECT n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rn,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT (rn * 10) // n AS bucket, count(*)::BIGINT AS n_docs,
        |  min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars
        |FROM r GROUP BY 1""".stripMargin),

    // Hive-partitioned layout + pruned read: write docs partitioned by
    // lang, read ONLY the en directory (PartitionFilters — zero bytes of
    // the other languages opened), aggregate per source
    "o5_partitioned_read" -> Q((s, dir) => {
      val path = runTmp + "/part_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      LayoutOps.writePartitioned(Tables.docs(s, dir), "lang", path)
      LayoutOps.readPartition(s, path, "lang", "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    },
      """SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin),

    // Schema evolution: two shards with drifting schemas (one lacks lang)
    // read as ONE frame under mergeSchema — missing columns read as null
    "s2_schema_merge" -> Q((s, dir) => {
      val base = runTmp + "/merge_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val d = Tables.docs(s, dir)
      d.select("doc_id", "n_chars")
        .write.mode("overwrite").parquet(s"$base/s1")
      d.select("doc_id", "n_chars", "lang")
        .write.mode("overwrite").parquet(s"$base/s2")
      s.read.option("mergeSchema", "true").parquet(s"$base/s1", s"$base/s2")
        .agg(count(lit(1)).as("n_rows"),
          count(col("lang")).as("n_with_lang"),
          sum("n_chars").as("chars"))
    },
      """SELECT (count(*) * 2)::BIGINT AS n_rows, count(*)::BIGINT AS n_with_lang,
        |  (sum(n_chars) * 2)::BIGINT AS chars
        |FROM documents""".stripMargin),

    // Multi-format source: ORC round-trip (write once, scan with the ORC
    // reader) — same per-lang census as the parquet path
    "s3_orc_roundtrip" -> Q((s, dir) => {
      val p = runTmp + "/orc_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Tables.docs(s, dir).write.mode("overwrite").orc(p)
      s.read.orc(p).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    },
      """SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY lang""".stripMargin),

    // Compaction contract: the corpus re-lands as exactly 3 files and
    // loses no rows — n_files observed via input_file_name() on re-scan
    "o5_compacted_write" -> Q((s, dir) => {
      val p = runTmp + "/compact_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      LayoutOps.compactWrite(Tables.docs(s, dir), nFiles = 3, p)
      s.read.parquet(p)
        .select(input_file_name().as("f"), col("n_chars"))
        .agg(countDistinct(col("f")).as("n_files"),
          count(lit(1)).as("n_rows"), sum("n_chars").as("chars"))
    },
      """SELECT 3::BIGINT AS n_files, count(*)::BIGINT AS n_rows,
        |sum(n_chars)::BIGINT AS chars FROM documents""".stripMargin),

    // Zone-map layout: docs range-partitioned + sorted on n_chars, then a
    // band predicate read back — the filter reaches the scan as
    // PushedFilters against tight per-file/row-group stats
    "o5_sorted_layout" -> Q((s, dir) => {
      val p = runTmp + "/sorted_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      LayoutOps.writeSorted(Tables.docs(s, dir), "n_chars", nParts = 4, p)
      s.read.parquet(p)
        .where(col("n_chars") >= 500 && col("n_chars") <= 900)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    },
      """SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents WHERE n_chars >= 500 AND n_chars <= 900
        |GROUP BY lang""".stripMargin),

    // TPC-H q6, the cube census, the JSON source
    // round-trip, and the NB-classifier confusion report.

    // Full cube census: every (source, lang) subtotal combination in one
    // Expand+aggregate pass — the last §2.7 grouping-sets variant
    "a1_cube" -> Q((s, dir) =>
      Tables.docs(s, dir).cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars")),
      """SELECT source, lang, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY CUBE(source, lang)""".stripMargin),

    // JSON-lines source round-trip (explicit schema — no inference
    // drift); same per-source census as the parquet path
    "s3_json_roundtrip" -> Q((s, dir) => {
      val p = runTmp + "/json_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val d = Tables.docs(s, dir)
      d.write.mode("overwrite").json(p)
      s.read.schema(d.schema).json(p).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    },
      """SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY source""".stripMargin),

    // Curriculum ordering, frequent-token downsampling,
    // and embedding-snapshot centroid drift.

    // Curriculum order: quality tiers first (tier 0 = best), hash-shuffled
    // within tier — the easy-to-hard schedule as one global Ranker pass
    "o5_curriculum" -> Q((s, dir) => {
      val t = TextOps.qualityTiers(Tables.docs(s, dir), col("text"),
        col("doc_id"), tiers = 3)
      val key = graft.core.Rng.Md5.sortKey(31L, "curr", col("doc_id"))
      graft.core.Ranker.withRank(
          t.select(col("doc_id"), col("tier"), key.as("__k")),
          "pos", col("tier"), col("__k"), col("doc_id"))
        .select("doc_id", "tier", "pos")
    },
      s"""WITH tq AS (${TextQueries.oracle("text_quality_tiers")})
         |SELECT doc_id, tier,
         |  row_number() OVER (ORDER BY tier,
         |    md5(concat_ws(':', 'curr', '31', doc_id::VARCHAR)), doc_id) - 1
         |    AS pos
         |FROM tq""".stripMargin),

    // Corrupt-file tolerance: a junk file dropped into the table directory
    // is skipped under ignoreCorruptFiles — the census still matches the
    // clean corpus (data-lake resilience: one bad shard must not kill a
    // 100 TB scan)
    "s2_corrupt_tolerant" -> Q((s, dir) => {
      val p = runTmp + "/corrupt_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val d = Tables.docs(s, dir)
      d.write.mode("overwrite").parquet(p)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$p/part-junk.parquet"),
        "this is not a parquet file".getBytes("UTF-8"))
      s.read.option("ignoreCorruptFiles", "true").parquet(p)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    },
      """SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY lang""".stripMargin),

    // The column-profiling data-quality report, the
    // normalized-text exact dedup tier, and the funnel conversion-rate
    // report.

    // Data-quality profile card: per-column null counts, domain
    // cardinalities, and value bounds in ONE map-side-combined aggregate
    // — the expectations report a pipeline run opens with
    "a1_dq_report" -> Q((s, dir) =>
      Tables.docs(s, dir).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_text"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("null_lang"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).as("null_source"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
        sum(when(col("n_chars") < 0, 1L).otherwise(0L)).as("neg_chars")),
      """SELECT count(*)::BIGINT AS n_rows,
        |  (count(*) - count(text))::BIGINT AS null_text,
        |  (count(*) - count(lang))::BIGINT AS null_lang,
        |  (count(*) - count(source))::BIGINT AS null_source,
        |  count(DISTINCT lang)::BIGINT AS n_langs,
        |  count(DISTINCT source)::BIGINT AS n_sources,
        |  min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars,
        |  (count(*) FILTER (WHERE n_chars < 0))::BIGINT AS neg_chars
        |FROM documents""".stripMargin),

    // The parquet-lake upsert (MERGE-INTO shape) and
    // seasonal traffic-anomaly detection.

    // SCD1 merge: an update batch (every 5th doc, lengths re-measured)
    // upserted into the base snapshot — updated keys take the new row,
    // the rest survive, nothing duplicates
    "o5_upsert" -> Q((s, dir) => {
      val base = Tables.docs(s, dir).select("doc_id", "n_chars")
      val updates = base.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), (col("n_chars") + 1000L).as("n_chars"))
      LayoutOps.upsert(base, updates, "doc_id")
    },
      """SELECT doc_id,
        |  (n_chars + CASE WHEN doc_id % 5 = 0 THEN 1000 ELSE 0 END)::BIGINT
        |    AS n_chars
        |FROM documents""".stripMargin),

    // Z-order clustered lake: events written range-partitioned + sorted on
    // the Morton interleave of (user bucket, hour bucket), then a box
    // filter on BOTH dimensions read back off the layout — results must
    // equal the same filter over the raw table (layout-invariance).
    "o5_zorder_layout" -> Q((s, dir) => {
      val p = runTmp + "/zorder_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val e = Tables.events(s, dir)
        .withColumn("ub", pmod(col("user_id"), lit(1024)).cast("long"))
        .withColumn("hb",
          pmod(floor(unix_micros(col("ts")) / lit(3600000000L)), lit(1024))
            .cast("long"))
      LayoutOps.writeZOrdered(e, col("ub"), col("hb"), bits = 10,
        nParts = 8, p)
      s.read.parquet(p)
        .where(col("ub") < 256 && col("hb") >= 256 && col("hb") < 512)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * lit(1000000.0)).cast("long")).as("vmic"))
    },
      // layout-invariance: the box filter over the z-ordered table must
      // equal the same filter over the raw table
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS vmic
        |FROM (SELECT *, user_id % 1024 AS ub,
        |    (epoch_us(ts) // 3600000000) % 1024 AS hb
        |  FROM events)
        |WHERE ub < 256 AND hb >= 256 AND hb < 512
        |GROUP BY 1""".stripMargin),

    // Trailing-window features, content-addressed audit
    // manifest, and bounded-state top-k per group.

    // Per-source tamper-evident manifest: row count + order-independent
    // XOR of md5-derived row digests — replicas compare manifests, not
    // bytes.
    "a1_manifest" -> Q((s, dir) => {
      val d = Tables.docs(s, dir)
      LayoutOps.auditManifest(d, col("source"),
        LayoutOps.rowDigest(col("doc_id"), col("text")))
    },
      """SELECT source AS grp, count(*)::BIGINT AS n_rows,
        |  bit_xor(('0x' || substr(md5(concat_ws('|', doc_id, text)), 1, 15))
        |    ::BIGINT)::BIGINT AS xor_digest
        |FROM documents GROUP BY 1""".stripMargin),

    // Top-3 longest docs per language via the bounded-state TopKAgg — the
    // map-side-combinable alternative to a window rank over the corpus.
    "a1_topk_per_group" -> Q((s, dir) => {
      val topk = udaf(new TopKAgg(3))
      Tables.docs(s, dir)
        .groupBy("lang")
        .agg(topk(col("n_chars"), col("doc_id")).as("ids"))
        .select(col("lang"), posexplode(col("ids")).as(Seq("rank", "doc_id")))
    },
      """SELECT lang, (rn - 1)::INT AS rank, doc_id
        |FROM (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin),

    // Functional-dependency profile: does lang determine source (and
    // vice versa), is doc_id a key for text — the schema-discovery card
    // behind join-key and partition-column choices.
    "a1_fd_check" -> Q((s, dir) => {
      val d = Tables.docs(s, dir)
      def fd(name: String, det: org.apache.spark.sql.Column,
          dep: org.apache.spark.sql.Column): DataFrame =
        d.agg(countDistinct(det).as("n_det"),
            countDistinct(det, dep).as("n_pairs"))
          .select(lit(name).as("fd"), col("n_det"), col("n_pairs"),
            (col("n_pairs") === col("n_det")).as("holds"))
      fd("lang->source", col("lang"), col("source"))
        .unionByName(fd("source->lang", col("source"), col("lang")))
        .unionByName(fd("doc_id->text", col("doc_id"), col("text")))
    },
      """WITH ls AS (SELECT count(DISTINCT lang)::BIGINT AS n_det,
        |    (SELECT count(*) FROM (SELECT DISTINCT lang, source
        |      FROM documents))::BIGINT AS n_pairs FROM documents),
        |sl AS (SELECT count(DISTINCT source)::BIGINT AS n_det,
        |    (SELECT count(*) FROM (SELECT DISTINCT source, lang
        |      FROM documents))::BIGINT AS n_pairs FROM documents),
        |dt AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_det,
        |    (SELECT count(*) FROM (SELECT DISTINCT doc_id, text
        |      FROM documents))::BIGINT AS n_pairs FROM documents)
        |SELECT 'lang->source' AS fd, n_det, n_pairs,
        |  (n_pairs = n_det) AS holds FROM ls
        |UNION ALL SELECT 'source->lang', n_det, n_pairs,
        |  (n_pairs = n_det) FROM sl
        |UNION ALL SELECT 'doc_id->text', n_det, n_pairs,
        |  (n_pairs = n_det) FROM dt""".stripMargin),

    // In-flight observed metrics, lake snapshot diff,
    // and a CSV source round-trip.

    // Pipeline observability with zero extra passes: `observe` collects
    // pre-gate count / pass-count / char mass DURING the same scan that
    // applies the quality gate — at 100 TB the difference between "free
    // metrics" and "a second full read".  (CollectMetrics operator; the
    // Observation helper blocks on the action's listener event.)
    "a1_observed_metrics" -> Q((s, dir) => {
      import s.implicits._
      val obs = new org.apache.spark.sql.Observation()
      val gated = Tables.docs(s, dir)
        .observe(obs,
          count(lit(1)).as("n_seen"),
          sum(when(col("n_chars") >= 200, 1L).otherwise(0L)).as("n_pass"),
          sum("n_chars").as("chars_seen"))
        .where(col("n_chars") >= 200)
      val kept = gated.count()
      val m = obs.get
      Seq((m("n_seen").asInstanceOf[Long], m("n_pass").asInstanceOf[Long],
        m("chars_seen").asInstanceOf[Long], kept))
        .toDF("n_seen", "n_pass", "chars_seen", "n_kept")
    },
      """SELECT count(*)::BIGINT AS n_seen,
        |  sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
        |  sum(n_chars)::BIGINT AS chars_seen,
        |  (SELECT count(*) FROM documents WHERE n_chars >= 200)::BIGINT
        |    AS n_kept
        |FROM documents""".stripMargin),

    // Snapshot diff of two simulated lake versions (drops on both sides,
    // value edits on B): one full-outer key join over integer row digests
    // classifies added / removed / changed / unchanged — the audit before
    // a replace-table swap.
    "o5_snapshot_diff" -> Q((s, dir) => {
      val base = Tables.events(s, dir)
        .withColumn("vm", round(col("value") * 1000).cast("long"))
      val a = base.where(pmod(col("event_id"), lit(11)) =!= 0)
        .select(col("event_id"),
          LayoutOps.rowDigest(col("event_id"), col("vm")).as("ha"))
      val b = base.where(pmod(col("event_id"), lit(13)) =!= 0)
        .withColumn("vm2", when(pmod(col("event_id"), lit(5)) === 0,
          col("vm") + 1000L).otherwise(col("vm")))
        .select(col("event_id"),
          LayoutOps.rowDigest(col("event_id"), col("vm2")).as("hb"))
      a.join(b, Seq("event_id"), "full_outer")
        .select(when(col("ha").isNull, "added")
          .when(col("hb").isNull, "removed")
          .when(col("ha") =!= col("hb"), "changed")
          .otherwise("unchanged").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
    },
      """WITH base AS (SELECT event_id,
        |    CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
        |a AS (SELECT event_id,
        |    ('0x' || substr(md5(concat_ws('|', event_id, vm)), 1, 15))::BIGINT
        |      AS ha
        |  FROM base WHERE event_id % 11 <> 0),
        |b AS (SELECT event_id,
        |    ('0x' || substr(md5(concat_ws('|', event_id,
        |      CASE WHEN event_id % 5 = 0 THEN vm + 1000 ELSE vm END)), 1, 15))
        |      ::BIGINT AS hb
        |  FROM base WHERE event_id % 13 <> 0)
        |SELECT CASE WHEN ha IS NULL THEN 'added'
        |    WHEN hb IS NULL THEN 'removed'
        |    WHEN ha <> hb THEN 'changed'
        |    ELSE 'unchanged' END AS status,
        |  count(*)::BIGINT AS n
        |FROM a FULL OUTER JOIN b USING (event_id)
        |GROUP BY 1""".stripMargin),

    // CSV round-trip of the documents dimension columns (any-format
    // source contract, S3 row): write CSV with header, read it back with
    // an explicit schema, aggregate.
    "s3_csv_roundtrip" -> Q((s, dir) => {
      val p = runTmp + "/csv_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Tables.docs(s, dir).select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").option("header", "true").csv(p)
      s.read.option("header", "true")
        .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
        .csv(p)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    },
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY lang""".stripMargin),

    // Differentially-private count release.

    // Per-language counts with Laplace(1/ε) noise, ε = 0.5 — the census a
    // pipeline can publish outside the data boundary.  Seeded noise for
    // oracle reproducibility (production draws fresh randomness).
    "a1_dp_counts" -> Q((s, dir) =>
      PiiOps.dpNoisyCounts(Tables.docs(s, dir), col("lang"),
        epsilon = 0.5, seed = 42L),
      """WITH c AS (SELECT lang AS grp, count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1),
        |x AS (SELECT grp, n,
        |    (('0x' || substr(md5(concat_ws(':', 'dp', '42', (grp)::VARCHAR)),
        |      1, 8))::BIGINT / 4294967296.0) - 0.5 AS v
        |  FROM c)
        |SELECT grp,
        |  round(n + (-2.0) * sign(v) * ln(1.0 - 2.0 * abs(v)), 6) AS noisy_n
        |FROM x""".stripMargin),

    // Expectation suite (constraint checks) and the
    // ingestion-lag card.

    // The expectations a pipeline run opens with, as data: referential
    // integrity (FK ⊆ PK via anti-join counts — the only corpus-wide work,
    // one key shuffle each), domain ranges, and key uniqueness.  At 100 TB
    // each check is a count, not a materialization; the suite is the
    // contract between producer and consumer tables.
    "a1_expectations" -> Q((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val lineitem = s.read.parquet(s"$dir/lineitem.parquet")
      val docs = Tables.docs(s, dir)
      def check(name: String, violations: DataFrame): DataFrame =
        violations.agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("check"), col("n_violations"),
            (col("n_violations") === 0L).as("pass"))
      check("orders.custkey_fk",
        orders.join(customer,
          orders("o_custkey") === customer("c_custkey"), "left_anti"))
        .unionByName(check("lineitem.orderkey_fk",
          lineitem.join(orders,
            lineitem("l_orderkey") === orders("o_orderkey"), "left_anti")))
        .unionByName(check("orders.totalprice_nonneg",
          orders.where(col("o_totalprice") < 0)))
        .unionByName(check("lineitem.discount_range",
          lineitem.where(col("l_discount") < 0 || col("l_discount") > 1)))
        .unionByName(check("documents.doc_id_unique",
          docs.groupBy("doc_id").agg(count(lit(1)).as("c"))
            .where(col("c") > 1)))
    },
      """SELECT 'orders.custkey_fk' AS check,
        |  (SELECT count(*) FROM orders o LEFT JOIN customer c
        |    ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)::BIGINT
        |    AS n_violations,
        |  (SELECT count(*) FROM orders o LEFT JOIN customer c
        |    ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) = 0 AS pass
        |UNION ALL
        |SELECT 'lineitem.orderkey_fk',
        |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)::BIGINT,
        |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) = 0
        |UNION ALL
        |SELECT 'orders.totalprice_nonneg',
        |  (SELECT count(*) FROM orders WHERE o_totalprice < 0)::BIGINT,
        |  (SELECT count(*) FROM orders WHERE o_totalprice < 0) = 0
        |UNION ALL
        |SELECT 'lineitem.discount_range',
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_discount < 0 OR l_discount > 1)::BIGINT,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_discount < 0 OR l_discount > 1) = 0
        |UNION ALL
        |SELECT 'documents.doc_id_unique',
        |  (SELECT count(*) FROM (SELECT doc_id FROM documents
        |    GROUP BY doc_id HAVING count(*) > 1))::BIGINT,
        |  (SELECT count(*) FROM (SELECT doc_id FROM documents
        |    GROUP BY doc_id HAVING count(*) > 1)) = 0""".stripMargin),

    // Manifest-based versioned lake (time travel).

    // Transaction-log time travel: commit v0 = first half of the month,
    // append v1 = the rest, then read BOTH snapshots back and aggregate —
    // v0 must still show the old state after v1 lands (no file is ever
    // rewritten; the append commit cost O(new data)).
    "o5_time_travel" -> Q((s, dir) => {
      val p = runTmp + "/tt_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val e = Tables.events(s, dir)
        .withColumn("day",
          floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
        .withColumn("vmic",
          floor(col("value") * lit(1000000.0)).cast("long"))
        .select("event_id", "event_type", "day", "vmic")
      val cut = 19737L  // 2024-01-15
      if (LayoutOps.latestVersion(s, p) < 1) {
        LayoutOps.commitAppend(e.where(col("day") < cut), p)
        LayoutOps.commitAppend(e.where(col("day") >= cut), p)
      }
      def agg(v: Int): DataFrame =
        LayoutOps.readVersion(s, p, v)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
          .withColumn("version", lit(v))
      agg(0).unionByName(agg(1))
    },
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic,
        |  0 AS version
        |FROM e WHERE day < 19737 GROUP BY event_type
        |UNION ALL
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic,
        |  1 AS version
        |FROM e GROUP BY event_type""".stripMargin),

    // Nested (array-of-struct) and map column
    // round-trip through parquet.

    // Nest → write → read → un-nest must lose nothing: events grouped
    // into per-user ARRAY<STRUCT> rows plus a MAP of per-type counts,
    // written as nested parquet, read back, exploded, and aggregated —
    // results must equal the flat aggregation that never left row form.
    // The columnar-nesting contract (repetition/definition levels, map
    // key-value pages) a multimodal/telemetry lake depends on.
    "s3_nested_roundtrip" -> Q((s, dir) => {
      val p = runTmp + "/nested_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          col("event_id"), floor(col("value") * lit(1000000.0)).cast("long")
            .as("vmic"))
      val nested = e.groupBy("user_id")
        .agg(collect_list(struct(col("event_id"), col("event_type"),
          col("vmic"))).as("events"))
      val withMap = nested.join(
        e.groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
          .groupBy("user_id")
          .agg(map_from_entries(collect_list(struct(col("event_type"),
            col("n")))).as("type_counts")),
        "user_id")
      withMap.write.mode("overwrite").parquet(p)
      val back = s.read.parquet(p)
      val exploded = back.select(col("user_id"),
          explode(col("events")).as("ev"))
        .select(col("ev.event_type").as("event_type"),
          col("ev.vmic").as("vmic"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
      val fromMap = back.select(explode(col("type_counts"))
          .as(Seq("event_type", "n")))
        .groupBy("event_type").agg(sum("n").as("n_from_map"))
      exploded.join(fromMap, "event_type")
    },
      // the flat aggregation — nesting, parquet, and un-nesting must be
      // invisible to it, twice over (array leg AND map leg)
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS vmic,
        |  count(*)::BIGINT AS n_from_map
        |FROM events GROUP BY 1""".stripMargin),

    // Wide→long reshape: the per-language documents census melted into
    // (lang, metric, value) rows with Spark's native unpivot
    "a1_unpivot" -> Q((s, dir) => {
      val census = Tables.docs(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      census.unpivot(Array(col("lang")),
        Array(col("n_docs").cast("long"), col("chars").cast("long")),
        "metric", "value")
    },
      """WITH census AS (
        |  SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |  FROM documents GROUP BY 1)
        |SELECT lang, 'n_docs' AS metric, n_docs AS value FROM census
        |UNION ALL
        |SELECT lang, 'chars' AS metric, chars AS value FROM census""".stripMargin),

    // Lake maintenance surface, oracle-gated.
    //
    // `o5_compact_travel` — a streaming-shaped lake (three micro-batch
    // appends) is compacted (OPTIMIZE); the pre- and post-compaction
    // snapshots must BOTH equal the plain relational answer.
    //
    // `o5_stats_skip` — a day-range read through manifest-stats directory
    // pruning; the query itself REQUIRES that pruning skipped the
    // out-of-range commits (the scale property is part of the gate), and
    // the oracle checks the surviving rows against DuckDB.
    //
    // `o5_pushdown_skip` — the same range read with NO hint: a plain
    // `.where` on `readVersionIndexed`, pruned by the PLANNER through
    // [[graft.sources.LakeFileIndex]] (census-asserted: 2 of 3 commits
    // skipped and never listed).
    //
    // `o5_version_delta` — the structural append-delta (CDC read) between
    // two snapshots, O(delta) from the manifests alone.

    // Micro-batch-fragmented lake, then OPTIMIZE: snapshot v2 (three
    // directories) and v3 (compacted, one directory) must aggregate
    // identically — compaction moves bytes, never rows.
    "o5_compact_travel" -> Q((s, dir) => {
      val p = runTmp + "/ct_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      buildSliced(s, dir, p)
      if (LayoutOps.latestVersion(s, p) == 2)
        LayoutOps.compactSnapshot(s, p, targetFiles = 2,
          statsCols = Seq("day"))
      def agg(v: Int, tag: String): DataFrame =
        LayoutOps.readVersion(s, p, v)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
          .withColumn("phase", lit(tag))
      agg(2, "pre").unionByName(agg(3, "post"))
    },
      """WITH e AS (SELECT event_type,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events),
        |a AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(vmic)::BIGINT AS vmic
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n, vmic, 'pre' AS phase FROM a
        |UNION ALL
        |SELECT event_type, n, vmic, 'post' AS phase FROM a""".stripMargin),

    // Day-ranged read through manifest-stats pruning: of the three
    // day-sliced commits only the middle one intersects 19735..19739,
    // so exactly two directories MUST be skipped without being listed —
    // enforced here, value-checked by the oracle.
    "o5_stats_skip" -> Q((s, dir) => {
      val p = runTmp + "/ss_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      buildSliced(s, dir, p)
      val v = LayoutOps.latestVersion(s, p)
      val (_, skipped) = LayoutOps.rangeDirs(s, p, v, "day", 19735L, 19739L)
      require(skipped.size == 2,
        s"manifest stats must skip the two out-of-range commits, " +
          s"skipped ${skipped.size}")
      LayoutOps.readVersionRange(s, p, v, "day", 19735L, 19739L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    },
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
        |FROM e WHERE day BETWEEN 19735 AND 19739
        |GROUP BY event_type""".stripMargin),

    // The same day-range read with NO pruning hint: a plain `.where` on
    // the Catalyst-integrated snapshot (readVersionIndexed) must make
    // the PLANNER skip the two out-of-range commits via the manifest
    // stats — enforced by probing the index's pruning census after a
    // real scan — and the values must match the relational oracle.
    "o5_pushdown_skip" -> Q((s, dir) => {
      val p = runTmp + "/ss_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      buildSliced(s, dir, p)
      val v = LayoutOps.latestVersion(s, p)
      val (snap, idx) = LayoutOps.indexedRead(s, p, v)
      val ranged = snap.where(col("day").between(19735L, 19739L))
      ranged.count() // force one planned scan to observe the census
      require(idx.lastPruning == (1, 2),
        s"planner-driven stats pruning must keep 1 of 3 commits, " +
          s"got ${idx.lastPruning}")
      require(idx.listedDirCount == 1,
        s"skipped commits must never be listed, " +
          s"listed ${idx.listedDirCount}")
      ranged.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    },
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
        |FROM e WHERE day BETWEEN 19735 AND 19739
        |GROUP BY event_type""".stripMargin),

    // Exactly-once lake->lake mirror driven in two catch-ups: stage the
    // day-sliced commits into a source lake, mirror after each stage
    // (with an idempotent replay in between), and the MIRROR's snapshot
    // must equal the full relational answer.
    "o5_tail_mirror" -> Q((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val src = runTmp + "/tm_src_" + tag
      val dst = runTmp + "/tm_dst_" + tag
      if (LayoutOps.latestVersion(s, src) < 0) {
        val e = dayEvents(s, dir)
        LayoutOps.commitAppend(e.where(col("day") < cut1), src,
          statsCols = Seq("day"))
        LayoutOps.lakeMirror(s, src, dst, statsCols = Seq("day"))
        LayoutOps.lakeMirror(s, src, dst) // replay: must be a no-op
        LayoutOps.commitAppend(
          e.where(col("day") >= cut1 && col("day") < cut2), src,
          statsCols = Seq("day"))
        LayoutOps.commitAppend(e.where(col("day") >= cut2), src,
          statsCols = Seq("day"))
        LayoutOps.lakeMirror(s, src, dst, statsCols = Seq("day"))
      }
      val d = LayoutOps.latestVersion(s, dst)
      require(d == 1, s"two catch-ups must land exactly two mirror " +
        s"commits, got ${d + 1}")
      LayoutOps.readVersionIndexed(s, dst, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    },
      """WITH e AS (SELECT event_type,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
        |FROM e GROUP BY event_type""".stripMargin),

    // readStream FROM the lake (LakeStreamSource): AvailableNow drains
    // the three day-sliced commits as version-offset micro-batches into
    // a parquet sink; the drained rows must equal the full relational
    // answer.  A re-run against the same checkpoint delivers nothing
    // (exactly-once), so the sink stays stable across repeat timings.
    "o5_stream_tail" -> Q((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val src = runTmp + "/st_src_" + tag
      val out = runTmp + "/st_out_" + tag
      val ckp = runTmp + "/st_ckp_" + tag
      buildSliced(s, dir, src)
      val q = s.readStream
        .format("graft.sources.LakeStreamSource")
        .option("path", src)
        .load()
        .writeStream
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            b.write.mode("append").parquet(out)
        }
        .start()
      // a timed-out drain would read a partial sink (and leave the
      // checkpoint held against the next timing run) — fail loudly
      require(q.awaitTermination(180000L),
        "lake stream drain did not finish within 180 s")
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    },
      """WITH e AS (SELECT event_type,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
        |FROM e GROUP BY event_type""".stripMargin),

    // Z-ORDER compaction (OPTIMIZE ZORDER BY): the snapshot rewritten
    // clustered on the (day, id-bucket) Morton interleave; pre- and
    // post-compaction snapshots must aggregate identically — clustering
    // moves bytes, never rows.
    "o5_zorder_travel" -> Q((s, dir) => {
      val p = runTmp + "/zt_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      buildSliced(s, dir, p)
      if (LayoutOps.latestVersion(s, p) == 2)
        LayoutOps.compactZOrdered(s, p,
          greatest(col("day") - 19700L, lit(0L)),
          pmod(col("event_id"), lit(64)), bits = 8, targetFiles = 2,
          statsCols = Seq("day"))
      def agg(v: Int, tag: String): DataFrame =
        LayoutOps.readVersion(s, p, v)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
          .withColumn("phase", lit(tag))
      agg(2, "pre").unionByName(agg(3, "post"))
    },
      """WITH e AS (SELECT event_type,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events),
        |a AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(vmic)::BIGINT AS vmic
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n, vmic, 'pre' AS phase FROM a
        |UNION ALL
        |SELECT event_type, n, vmic, 'post' AS phase FROM a""".stripMargin),

    // Retention DELETE with directory-granular rewrites: removing a day
    // range from the day-sliced lake must rewrite ONLY the one commit
    // the range can touch (the other two carried by name, files
    // untouched — asserted structurally) and the surviving snapshot
    // must equal the relational complement.
    "o5_delete_where" -> Q((s, dir) => {
      val p = runTmp + "/dw_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      buildSliced(s, dir, p)
      if (LayoutOps.latestVersion(s, p) == 2) {
        val (before, _, _) = LayoutOps.manifestEntries(s, p, 2)
        require(LayoutOps.deleteWhere(s, p,
          col("day").between(19735L, 19739L)).contains(3))
        val (after, _, _) = LayoutOps.manifestEntries(s, p, 3)
        require(after.count(before.contains) == 2 && after.size == 3,
          s"delete must rewrite exactly the one affected commit: " +
            s"$before -> $after")
      }
      LayoutOps.readVersionIndexed(s, p,
        LayoutOps.latestVersion(s, p))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    },
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
        |FROM e WHERE day < 19735 OR day > 19739
        |GROUP BY event_type""".stripMargin),

    // MERGE (upsert) with directory-granular rewrites: doubling a
    // narrow event_id band's values must rewrite ONLY the one
    // id-sliced commit whose key range the updates can touch (asserted
    // structurally), and the merged snapshot must equal the relational
    // CASE-expression oracle.
    "o5_merge_into" -> Q((s, dir) => {
      val p = runTmp + "/mi_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      if (LayoutOps.latestVersion(s, p) < 0) {
        val e = dayEvents(s, dir)
        LayoutOps.commitAppend(e.where(col("event_id") < 400), p,
          statsCols = Seq("event_id"))
        LayoutOps.commitAppend(
          e.where(col("event_id") >= 400 && col("event_id") < 800), p,
          statsCols = Seq("event_id"))
        LayoutOps.commitAppend(e.where(col("event_id") >= 800), p,
          statsCols = Seq("event_id"))
      }
      if (LayoutOps.latestVersion(s, p) == 2) {
        val upd = dayEvents(s, dir)
          .where(col("event_id").between(100L, 199L))
          .withColumn("vmic", col("vmic") * 2)
        val (before, _, _) = LayoutOps.manifestEntries(s, p, 2)
        require(LayoutOps.mergeInto(s, p, upd, "event_id").contains(3))
        val (after, _, _) = LayoutOps.manifestEntries(s, p, 3)
        require(after.count(before.contains) == 2 && after.size == 3,
          s"merge must rewrite exactly the one key-overlapping commit: " +
            s"$before -> $after")
      }
      LayoutOps.readVersionIndexed(s, p, LayoutOps.latestVersion(s, p))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    },
      """WITH e AS (SELECT event_id, event_type,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n,
        |       sum(CASE WHEN event_id BETWEEN 100 AND 199
        |                THEN 2 * vmic ELSE vmic END)::BIGINT AS vmic
        |FROM e GROUP BY event_type""".stripMargin),

    // Incremental consumer catch-up: the structural append-delta between
    // snapshots v0 and v2 must be exactly the two later day-slices —
    // read in O(delta) from the manifests, never an anti-join — and the
    // values must match the relational day-range oracle.
    "o5_version_delta" -> Q((s, dir) => {
      val p = runTmp + "/ss_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      buildSliced(s, dir, p)
      LayoutOps.readVersionDelta(s, p, 0, 2)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    },
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
        |FROM e WHERE day >= 19732
        |GROUP BY event_type""".stripMargin),

    // Deterministic label-propagation communities over the
    // tier-shared co-engagement graph — two synchronous rounds, most-
    // frequent neighbor label, min-label ties; the oracle replays the
    // identical rounds in SQL.

    // Governance audits over quasi-identifiers: k-anonymity class sizes
    // and l-diversity of a sensitive attribute — one aggregation each.
    "pii_k_anon" -> Q((s, dir) =>
      graft.ops.PiiOps.kAnonymityAudit(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq(col("c_mktsegment"), col("c_nationkey")), k = 5),
      """SELECT c_mktsegment, c_nationkey,
        |  count(*)::BIGINT AS class_size,
        |  count(*) < 5 AS violates_k
        |FROM customer GROUP BY 1, 2""".stripMargin),

    "pii_l_diversity" -> Q((s, dir) =>
      graft.ops.PiiOps.lDiversityAudit(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq(col("c_mktsegment"), col("c_nationkey")),
        floor(col("c_acctbal") / 1000).cast("long"), l = 8),
      """SELECT c_mktsegment, c_nationkey,
        |  count(*)::BIGINT AS class_size,
        |  count(DISTINCT floor(c_acctbal / 1000)::BIGINT)::BIGINT
        |    AS distinct_sensitive,
        |  count(DISTINCT floor(c_acctbal / 1000)::BIGINT) >= 8 AS diverse_l
        |FROM customer GROUP BY 1, 2""".stripMargin),

    // Wires the sketch tier (HDR histogram/quantiles, count-min)
    // and the hybrid-retrieval tier (token-overlap lexical ranks, RRF fusion)
    // into the oracle gate, plus the lake-seam mergeability proof — per-commit
    // CMS partials merged across [[LayoutOps.lakeTail]] deltas must equal the
    // direct whole-corpus sketch hash-exactly, which is the property that
    // makes a sketch usable at 100 TB (partials stream in; history never
    // re-scans).
    //
    // Every sketch hash is md5-derived and every quantile rank is integer
    // arithmetic, so all oracles here are hash-exact SQL replays — no
    // tolerance rows.

    // HDR log-linear histogram of document lengths: bounded bucket table
    // (≤ 64·2^5 rows at subBits=4) from one map-side-combined aggregation;
    // integer msb arithmetic makes the oracle replay engine-exact.
    "sketch_hdr_hist" -> Q((s, dir) =>
      SketchOps.hdrHistogram(Tables.docs(s, dir), col("n_chars"),
        subBits = 4),
      HdrBuckets),

    // Quantiles from the bucket table: exact-rational ranks, two-phase
    // Ranker cumsum (no O(B^2) self-join, no single-partition window);
    // the rank-th value provably lies in [est_lb, est_ub] and the oracle
    // replays the whole selection hash-exactly.
    "sketch_hdr_quantiles" -> Q((s, dir) =>
      SketchOps.hdrQuantiles(Tables.docs(s, dir), col("n_chars"),
        subBits = 4,
        quantiles = Seq((1, 2), (9, 10), (99, 100), (1, 1))),
      s"""WITH h AS ($HdrBuckets),
         |c AS (SELECT bucket_id, lb, ub,
         |    sum(n) OVER (ORDER BY bucket_id) AS cum FROM h),
         |t AS (SELECT sum(n)::BIGINT AS n_total FROM h),
         |q AS (SELECT * FROM (VALUES (1, 2), (9, 10), (99, 100), (1, 1))
         |  AS v(q_num, q_den)),
         |r AS (SELECT q_num, q_den,
         |    (q_num::BIGINT * n_total + q_den - 1) // q_den AS rank,
         |    n_total
         |  FROM q, t)
         |SELECT round(r.q_num::DOUBLE / r.q_den, 6) AS q, r.rank,
         |  r.n_total, min(c.lb)::BIGINT AS est_lb, min(c.ub)::BIGINT AS est_ub
         |FROM r JOIN c ON c.cum >= r.rank
         |GROUP BY 1, 2, 3""".stripMargin),

    // Count-min grid over the corpus token stream: depth×width counters,
    // one aggregation, md5 slot hashes ⇒ hash-exact replay.
    "sketch_cms_grid" -> Q((s, dir) =>
      SketchOps.cmsSketch(tokStream(s, dir), col("tok"),
        depth = 4, width = 64),
      cmsGridSql("documents")),

    // Point estimates incl. a never-seen probe (n_est must be 0, not a
    // dropped row): est ≥ exact is baked into the compared output as
    // ok_ge_exact, alongside the exact count it dominates.
    "sketch_cms_estimate" -> Q((s, dir) => {
      val toks = tokStream(s, dir)
      val sketch = SketchOps.cmsSketch(toks, col("tok"),
        depth = 4, width = 64)
      val probes = s.range(1)
        .select(explode(array(CmsProbes.map(lit): _*)).as("item"))
      val est = SketchOps.cmsEstimate(sketch, probes, col("item"),
        depth = 4, width = 64)
      val exact = toks.groupBy(col("tok").as("item"))
        .agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("item"), "left")
        .select(col("item"), col("n_est"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          (col("n_est") >= coalesce(col("n_exact"), lit(0L)))
            .as("ok_ge_exact"))
    },
      s"""WITH g AS (${cmsGridSql("documents")}),
         |p0 AS (SELECT unnest(['join', 'scan', 'the', 'zz_unseen'])
         |  AS item),
         |pr AS (SELECT item, unnest(generate_series(0, 3)) AS row FROM p0),
         |ph AS (SELECT item, row,
         |  (('0x' || substr(md5(concat_ws('|', row, item)), 1, 15))::BIGINT
         |    % 64) AS slot
         |  FROM pr),
         |est AS (
         |  SELECT item, min(coalesce(g.n, 0))::BIGINT AS n_est
         |  FROM ph LEFT JOIN g USING (row, slot)
         |  GROUP BY 1
         |),
         |ex AS (
         |  SELECT tok AS item, count(*)::BIGINT AS n_exact
         |  FROM (SELECT unnest($TokList) AS tok FROM documents)
         |  GROUP BY 1
         |)
         |SELECT est.item, est.n_est,
         |  coalesce(ex.n_exact, 0)::BIGINT AS n_exact,
         |  est.n_est >= coalesce(ex.n_exact, 0) AS ok_ge_exact
         |FROM est LEFT JOIN ex USING (item)""".stripMargin),

    // Mergeability at the lake seam: documents arrive as 3 lake commits;
    // each lakeTail delta contributes a CMS partial grid (history never
    // re-scanned), partials merge by counter addition — and the merged
    // grid must equal the direct whole-corpus sketch, which is exactly
    // what the oracle's direct replay checks hash-exactly.
    "sketch_merge" -> Q((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val lake = runTmp + "/skm_lake_" + tag
      val ckp = runTmp + "/skm_ckp_" + tag
      val parts = runTmp + "/skm_parts_" + tag
      if (LayoutOps.latestVersion(s, lake) < 0) {
        val d = Tables.docs(s, dir).select(col("doc_id"), col("text"))
        (0 until 3).foreach { k =>
          LayoutOps.commitAppend(d.where(col("doc_id") % 3 === k), lake)
          LayoutOps.lakeTail(s, lake, ckp) { (delta, _) =>
            SketchOps.cmsSketch(
              delta.select(explode(TextOps.tokens(col("text"))).as("tok")),
              col("tok"), depth = 4, width = 64)
              .write.mode("append").parquet(parts)
          }
        }
      }
      s.read.parquet(parts)
        .groupBy("row", "slot").agg(sum("n").as("n"))
    },
      // merged-partials grid must equal the direct whole-corpus sketch
      cmsGridSql("documents")),

    // Mergeability across the whole sketch tier.  `sketch_merge`
    // proves the CMS grid merges at the lake seam; these two add the HDR
    // histogram over the same commit pattern (bucket tables merge by
    // counter addition — the same groupBy-sum that makes them executor
    // partials) and the Spark-native Datasketches HLL (hll_sketch_agg /
    // hll_union_agg — binary sketches, so the gate is an invariant: the
    // merged estimate must sit within tolerance of BOTH the direct estimate
    // and the exact distinct count; NOTE the merged and direct estimates
    // are not asserted equal — Datasketches' direct path uses the HIP
    // estimator, which is lost on union by design).

    // HDR mergeability at the lake seam: per-commit bucket tables via
    // lakeTail, merged by bucket_id sum — must equal the direct
    // whole-corpus histogram hash-exactly (the oracle replays direct).
    "sketch_hdr_merge" -> Q((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val lake = runTmp + "/skh_lake_" + tag
      val ckp = runTmp + "/skh_ckp_" + tag
      val parts = runTmp + "/skh_parts_" + tag
      if (LayoutOps.latestVersion(s, lake) < 0) {
        val d = Tables.docs(s, dir).select(col("doc_id"), col("n_chars"))
        (0 until 3).foreach { k =>
          LayoutOps.commitAppend(d.where(col("doc_id") % 3 === k), lake)
          LayoutOps.lakeTail(s, lake, ckp) { (delta, _) =>
            SketchOps.hdrHistogram(delta, col("n_chars"), subBits = 4)
              .write.mode("append").parquet(parts)
          }
        }
      }
      s.read.parquet(parts)
        .groupBy("bucket_id", "lb", "ub").agg(sum("n").as("n"))
    },
      // merged partials must equal the direct whole-corpus HDR table
      """SELECT (sh::BIGINT * 32 + (v >> sh)) AS bucket_id,
        |       ((v >> sh) << sh)::BIGINT AS lb,
        |       (((v >> sh) << sh) + ((1::BIGINT << sh) - 1))::BIGINT AS ub,
        |       count(*)::BIGINT AS n
        |FROM (
        |  SELECT v, greatest(0, length(bin(v)) - 1 - 4) AS sh
        |  FROM (SELECT n_chars::BIGINT AS v FROM documents))
        |GROUP BY 1, 2, 3""".stripMargin),

    // Spark-native HLL distinct sketches (Datasketches via
    // hll_sketch_agg): 3 disjoint partials union-merged; invariants —
    // merged estimate within 10% of the exact distinct count AND within
    // 2% of the direct single-pass estimate — asserted in the compared
    // output (binary sketches cannot hash-compare across engines).
    "sketch_hll_merge" -> Q((s, dir) => {
      val d = Tables.docs(s, dir)
      val partials = d
        .withColumn("part", pmod(col("doc_id"), lit(3)))
        .groupBy("part").agg(hll_sketch_agg(col("text")).as("sk"))
      val merged = partials
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("m_est"))
      val direct = d
        .agg(hll_sketch_estimate(hll_sketch_agg(col("text"))).as("d_est"))
      val exact = d.agg(countDistinct(col("text")).as("n_exact"))
      merged.crossJoin(direct).crossJoin(exact)
        .select(col("n_exact"),
          (abs(col("m_est").cast("double") - col("n_exact"))
            <= col("n_exact") * 0.10).as("merged_close_to_exact"),
          (abs(col("m_est").cast("double") - col("d_est"))
            <= col("d_est") * 0.02 + lit(1.0)).as("merged_close_to_direct"))
    },
      """SELECT count(DISTINCT text)::BIGINT AS n_exact,
        |  true AS merged_close_to_exact,
        |  true AS merged_close_to_direct
        |FROM documents""".stripMargin),

    // The sketch tier grows per-group quantiles (keyed windows —
    // the per-language length dashboard) and drives a real gate
    // (p5/p95 length clipping, the outlier-trim every corpus pipeline
    // runs); retrieval grows 3-way RRF (lexical ⊕ exact-dense ⊕ LSH).
    // All integer/6-dp arithmetic — hash-exact oracles throughout.

    // per-language p50/p90/p100 of document length: bucket tables keyed
    // by group, cumulative scan windowed BY GROUP (never global)
    "sketch_hdr_by_lang" -> Q((s, dir) =>
      SketchOps.hdrQuantilesBy(Tables.docs(s, dir), col("lang"),
        col("n_chars"), subBits = 4,
        quantiles = Seq((1, 2), (9, 10), (1, 1))),
      s"""WITH g AS ($GroupedBuckets),
         |c AS (SELECT grp, bucket_id, lb, ub,
         |    sum(n) OVER (PARTITION BY grp ORDER BY bucket_id) AS cum
         |  FROM g),
         |t AS (SELECT grp, sum(n)::BIGINT AS n_total FROM g GROUP BY 1),
         |q AS (SELECT * FROM (VALUES (1, 2), (9, 10), (1, 1))
         |  AS v(q_num, q_den)),
         |r AS (SELECT grp, q_num, q_den,
         |    (q_num::BIGINT * n_total + q_den - 1) // q_den AS rank,
         |    n_total
         |  FROM t, q)
         |SELECT r.grp AS "group",
         |  round(r.q_num::DOUBLE / r.q_den, 6) AS q, r.rank, r.n_total,
         |  min(c.lb)::BIGINT AS est_lb, min(c.ub)::BIGINT AS est_ub
         |FROM r JOIN c ON c.grp = r.grp AND c.cum >= r.rank
         |GROUP BY 1, 2, 3, 4""".stripMargin),

    // the per-group HISTOGRAM itself (not just its quantiles) — the
    // dashboard primitive: one shuffle whose payload is the (group ×
    // bucket) grid, corpus-size-independent.  hdrHistogramBy was
    // previously reachable only through hdrQuantilesBy (r16 verdict #7)
    "sketch_hdr_hist_by_lang" -> Q((s, dir) =>
      SketchOps.hdrHistogramBy(Tables.docs(s, dir), col("lang"),
        col("n_chars"), subBits = 4),
      GroupedBuckets)
  )
}
