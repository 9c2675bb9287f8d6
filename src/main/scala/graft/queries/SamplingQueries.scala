package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{AutoConfig, BlockShuffling, BlockWeightedSampling,
  ClassBalancedSampling, MixtureSampling, Rng, SamplingStrategy, ScCollection,
  ScDataset, Streaming}
import graft.functions.SparseToDense
import graft.ops.{SplitOps, TextOps}
import Tables.docs

/** Sampling and loader queries: positional scans, block shuffling,
  * weighted and class-balanced sampling, batch assembly, epoch control,
  * splits and mixtures (SURVEY.md §2.1-§2.6).
  */
object SamplingQueries extends QueryDomain("sampling") {

  /** lineitem as an indexable collection: contiguous row_id ranked by a
    * TOTAL order — (l_orderkey, l_linenumber) alone is NOT unique in the
    * test data (~20% duplicate pairs), so extra columns break ties; rows
    * identical in every sort column are interchangeable, which keeps the
    * rank deterministic as a multiset across engines. */
  val LiOrder = Seq("l_orderkey", "l_linenumber", "l_extendedprice",
    "l_quantity", "l_discount", "l_tax")

  /** Session-scoped collection handle: ranked once, persisted, reused by
    * every query — the reference's own benchmark methodology (open the
    * collection once, iterate epochs over the same handle; its timed window
    * also excludes dataset open, benchmarks/utils.py:90-92). */
  private val liCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), ScCollection]()

  def li(spark: SparkSession, dir: String): ScCollection =
    liCache.computeIfAbsent((spark, dir), _ =>
      // project to the columns the queries touch (P1, the reference's own
      // obs-pruning): the cached frame is half as wide, and the pruning
      // reaches the parquet scan (ReadSchema)
      ScCollection.fromParquetCached(spark, s"$dir/lineitem.parquet", LiOrder,
        columns = Seq("l_returnflag")))

  /** Shared oracle CTE: the same contiguous rank in DuckDB. */
  private[queries] val RankedCte =
    s"""WITH ranked AS (
      |  SELECT l_orderkey, l_linenumber,
      |         row_number() OVER (ORDER BY ${LiOrder.mkString(", ")}) - 1 AS row_id
      |  FROM lineitem
      |)""".stripMargin

  private val RankedFlagCte =
    s"""WITH ranked AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag,
      |         row_number() OVER (ORDER BY ${LiOrder.mkString(", ")}) - 1 AS row_id
      |  FROM lineitem
      |)""".stripMargin

  private val Fracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Domain-mixture parts: src0 gets 5/26 of the sample, src1 3/26, the
    * remaining 18 sources 1/26 each. */
  private val MixParts: Seq[(String, Long)] =
    Seq("src0" -> 5L, "src1" -> 3L) ++ (2 until 20).map(i => s"src$i" -> 1L)

  /** Interleave mixture used by `o3_interleave` (sources outside the map
    * are excluded from the stream — the mixture IS the selection). */
  private val InterleaveWeights = Map(
    "src0" -> 4L, "src1" -> 2L, "src2" -> 1L, "src3" -> 1L)

  /** Shared-string SQL: the per-language mixture share card (counts +
    * exact char mass — the numerator/denominator of every sampling
    * temperature). */
  private val MixShareSqlShared =
    """SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY lang""".stripMargin

  val entries: Seq[(String, Q)] = Seq(
    // Oracle-checked queries over the core sampling/batching operators
    // (SURVEY.md §2.1-§2.4).  Every query uses [[Rng.Md5]] so the epoch order
    // is reproducible in ANSI SQL: all randomness is
    // `md5(concat_ws(':', tag, seed, cols…))`, identical bytes in Spark and
    // DuckDB.  Column names are aliased identically on both sides (the driver
    // compare sorts columns by name before hashing).

    // S1: positional batched scan — rank + row-range filter
    "s1_scan" -> Q((s, dir) =>
      li(s, dir).df
        .select(col("row_id"), col("l_orderkey"), col("l_linenumber"))
        .where(col("row_id").between(100, 199)),
      s"""$RankedCte
         |SELECT row_id, l_orderkey, l_linenumber FROM ranked
         |WHERE row_id BETWEEN 100 AND 199""".stripMargin),

    // P5: pilot-mode limit (first n by row_id)
    "p5_limit" -> Q((s, dir) =>
      li(s, dir).limit(50).df
        .select(col("row_id"), col("l_orderkey"), col("l_linenumber")),
      s"""$RankedCte
         |SELECT row_id, l_orderkey, l_linenumber FROM ranked
         |WHERE row_id < 50""".stripMargin),

    // O1 + P3: streaming order over a subset — subset rows re-ranked contiguously
    "o1_streaming" -> Q((s, dir) => {
      val sub = li(s, dir).where(col("l_linenumber") <= 3)
      Streaming(rng = Rng.Md5).plan(sub, 5)
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord"))
    },
      s"""$RankedCte
         |SELECT l_orderkey, l_linenumber,
         |       row_number() OVER (ORDER BY row_id) - 1 AS ord
         |FROM ranked WHERE l_linenumber <= 3""".stripMargin),

    // O2: block shuffle — block order md5-permuted, intra-block order kept
    "o2_block_shuffle" -> Q((s, dir) =>
      BlockShuffling(blockSize = 8, rng = Rng.Md5).plan(li(s, dir), 7)
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord")),
      s"""$RankedCte,
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'block', '7', (row_id // 8)::VARCHAR)) AS bkey
         |  FROM ranked
         |)
         |SELECT l_orderkey, l_linenumber,
         |       row_number() OVER (ORDER BY bkey, row_id) - 1 AS ord
         |FROM k""".stripMargin),

    // O2 dropLast: n % blockSize uniformly-random rows removed first
    "o2_block_droplast" -> Q((s, dir) =>
      BlockShuffling(blockSize = 8, dropLast = true, rng = Rng.Md5)
        .plan(li(s, dir), 7)
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord")),
      s"""$RankedCte,
         |d AS (
         |  SELECT *, md5(concat_ws(':', 'drop', '7', row_id::VARCHAR)) AS dkey
         |  FROM ranked
         |),
         |dr AS (
         |  SELECT *, row_number() OVER (ORDER BY dkey, row_id) - 1 AS drank FROM d
         |),
         |kept AS (
         |  SELECT l_orderkey, l_linenumber, row_id FROM dr
         |  WHERE drank >= (SELECT count(*) % 8 FROM lineitem)
         |),
         |r0 AS (
         |  SELECT *, row_number() OVER (ORDER BY row_id) - 1 AS r0 FROM kept
         |),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'block', '7', (r0 // 8)::VARCHAR)) AS bkey
         |  FROM r0
         |)
         |SELECT l_orderkey, l_linenumber,
         |       row_number() OVER (ORDER BY bkey, r0) - 1 AS ord
         |FROM k""".stripMargin),

    // O1-shuffle + B1 + B2 + O6: fetch windows, within-window md5 permutation,
    // batch slicing
    "b2_buffer_shuffle" -> Q((s, dir) => {
      val ds = ScDataset(li(s, dir), Streaming(shuffle = true, rng = Rng.Md5),
        batchSize = 16, fetchFactor = 4, seed = 42L)
      ds.planFrame(0)
        .select(col("l_orderkey"), col("l_linenumber"), col("fetch_id"),
          col("__pos").as("pos"), col("batch_id"), col("pos_in_batch"))
    },
      s"""$RankedCte,
         |f AS (SELECT *, row_id // 64 AS fetch_id FROM ranked),
         |p AS (
         |  SELECT *, fetch_id * 64 + row_number() OVER (
         |    PARTITION BY fetch_id
         |    ORDER BY md5(concat_ws(':', 'yield', '42', row_id::VARCHAR)), row_id
         |  ) - 1 AS pos
         |  FROM f
         |)
         |SELECT l_orderkey, l_linenumber, fetch_id, pos,
         |       pos // 16 AS batch_id, pos % 16 AS pos_in_batch
         |FROM p""".stripMargin),

    // B3 + B4: exact per-rank batch counts under round-robin fetch
    // distribution (driver-side closed form; oracle recomputes from count(*))
    "b3_batch_counts" -> Q((s, dir) => {
      val ds = ScDataset(li(s, dir), Streaming(rng = Rng.Md5),
        batchSize = 64, fetchFactor = 4)
      val rows = (0 until 3).map(r => (r.toLong, ds.batchCount(r, 3))) :+
        (-1L, ds.batchCount)
      s.createDataFrame(rows).toDF("rank", "batches")
    },
      """WITH c AS (SELECT count(*) AS m FROM lineitem),
        |f AS (
        |  SELECT unnest(generate_series(0, CAST(ceil((SELECT m FROM c) / 256.0) AS BIGINT) - 1)) AS fid
        |),
        |pb AS (
        |  SELECT fid % 3 AS rnk,
        |         CAST(ceil(LEAST(256, (SELECT m FROM c) - fid * 256) / 64.0) AS BIGINT) AS nb
        |  FROM f
        |)
        |SELECT rnk AS rank, CAST(sum(nb) AS BIGINT) AS batches FROM pb GROUP BY rnk
        |UNION ALL
        |SELECT -1 AS rank, CAST(ceil((SELECT m FROM c) / 64.0) AS BIGINT) AS batches""".stripMargin),

    // U8: dictionary label encoding (string -> dense id by sorted order)
    "u8_label_encode" -> Q((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // the label dictionary is the distinct label set — driver-sized by
      // definition for a CLASS label; ids are assigned on the collected
      // sorted values (a partition-less window here would log WindowExec's
      // single-partition warning on every run — Spark strips constant
      // partition keys).  The collect is BOUNDED: orderBy+limit compiles to
      // TakeOrdered, so at most maxLabels+1 rows ever reach the driver, and
      // an unexpectedly high-cardinality label column fails loudly instead
      // of silently OOMing the driver (use the two-phase Ranker for id
      // assignment if the cardinality is genuinely unbounded).
      import s.implicits._
      val maxLabels = 1000000
      val collected = docs.select("lang").distinct().orderBy("lang")
        .limit(maxLabels + 1).collect()
      require(collected.length <= maxLabels,
        s"label cardinality exceeds $maxLabels — not a class label; " +
          "assign ids with a distributed rank instead")
      val dict = s.createDataset(
        collected.map(_.getString(0)).zipWithIndex.map { case (l, i) => (l, i) }
          .toSeq).toDF("lang", "label_id")
      docs.join(broadcast(dict), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("label_id").cast("long"))
    },
      """SELECT doc_id, lang,
        |       dense_rank() OVER (ORDER BY lang) - 1 AS label_id
        |FROM documents""".stripMargin),

    // Oracle-checked queries for the weighted-sampling operators (SURVEY §2.3
    // O3/O4) and weight/metric aggregations (§2.5 U9, §2.6 A1/A2).
    //
    // Cross-engine exactness strategy: every scalar pipeline mirrors the exact
    // IEEE operation ORDER between Spark and the DuckDB oracle; global
    // floating-point SUMS (order-dependent) are avoided by using integer-valued
    // weights (exact in any order), integer prefix sums, or driver-side
    // reductions in a defined order.  Outputs with genuine float aggregates are
    // rounded to 6 decimals on both sides.

    // O3 with replacement: systematic resampling over normalized-integerized
    // weights; output cardinality (120k) exceeds input (~60k) — duplicates
    // carry a copy index.
    "o3_weighted_replace" -> Q((s, dir) =>
      {
      val c = li(s, dir)
      BlockWeightedSampling(col("l_linenumber"), totalSize = 2 * c.length,
        blockSize = 8, rng = Rng.Md5)
        .plan(c, 11)
      }
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Copy).cast("long").as("copy"),
          col(SamplingStrategy.Ord).as("ord")),
      s"""${RankedFlagCte},
         |w AS (
         |  SELECT *, CAST(round(l_linenumber::DOUBLE *
         |    ((1000000.0 * (SELECT count(*) FROM lineitem)) /
         |     (SELECT sum(l_linenumber::DOUBLE) FROM lineitem))) AS BIGINT) AS wi
         |  FROM ranked
         |),
         |c AS (
         |  SELECT *, sum(wi) OVER (ORDER BY row_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM w
         |),
         |params AS (
         |  SELECT max(cum)::DOUBLE AS tw,
         |         (('0x' || substr(md5('offset:11'), 1, 8))::BIGINT / 4294967296.0) AS off
         |  FROM c
         |),
         |cp AS (
         |  SELECT *,
         |    CAST(ceil(cum::DOUBLE / (SELECT tw FROM params) * CAST(2 * (SELECT count(*) FROM lineitem) AS DOUBLE) - (SELECT off FROM params))
         |       - ceil((cum - wi)::DOUBLE / (SELECT tw FROM params) * CAST(2 * (SELECT count(*) FROM lineitem) AS DOUBLE) - (SELECT off FROM params)) AS INT) AS copies
         |  FROM c
         |),
         |ex AS (
         |  SELECT l_orderkey, l_linenumber, row_id,
         |         unnest(generate_series(1, copies)) AS copy
         |  FROM cp WHERE copies > 0
         |),
         |sr AS (
         |  SELECT *, row_number() OVER (ORDER BY row_id, copy) - 1 AS srank FROM ex
         |),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'wblock', '11', (srank // 8)::VARCHAR)) AS bkey
         |  FROM sr
         |)
         |SELECT l_orderkey, l_linenumber, copy::BIGINT AS copy,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin),

    // O3 without replacement: A-Res weighted reservoir (key = ln(u)/w, top-n)
    "o3_weighted_noreplace" -> Q((s, dir) =>
      {
      val c = li(s, dir)
      BlockWeightedSampling(col("l_linenumber"), totalSize = c.length / 3,
        blockSize = 8, replace = false, rng = Rng.Md5)
        .plan(c, 11)
      }
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord")),
      s"""${RankedFlagCte},
         |u AS (
         |  SELECT *, (('0x' || substr(md5(concat_ws(':', 'ares', '11', row_id::VARCHAR)), 1, 8))::BIGINT
         |             / 4294967296.0) AS uu
         |  FROM ranked
         |),
         |a AS (SELECT *, ln(uu) / (l_linenumber::DOUBLE) AS akey FROM u),
         |ar AS (
         |  SELECT *, row_number() OVER (ORDER BY akey DESC, row_id) - 1 AS arank FROM a
         |),
         |sel AS (SELECT l_orderkey, l_linenumber, row_id FROM ar WHERE arank < (SELECT count(*) // 3 FROM lineitem)),
         |sr AS (SELECT *, row_number() OVER (ORDER BY row_id) - 1 AS srank FROM sel),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'wblock', '11', (srank // 8)::VARCHAR)) AS bkey
         |  FROM sr
         |)
         |SELECT l_orderkey, l_linenumber,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin),

    // O3 without replacement in samplingSize ROUNDS (the reference's
    // sampling_size semantics): two rounds (n/3, then n/2 - n/3), unique
    // within a round, repeats across rounds carry a copy index
    "o3_weighted_rounds" -> Q((s, dir) =>
      {
      val c = li(s, dir)
      BlockWeightedSampling(col("l_linenumber"), totalSize = c.length / 2,
        blockSize = 8, replace = false, samplingSize = Some(c.length / 3),
        rng = Rng.Md5)
        .plan(c, 11)
      }
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Copy).cast("long").as("copy"),
          col(SamplingStrategy.Ord).as("ord")),
      s"""${RankedFlagCte},
         |a0 AS (
         |  SELECT *, ln((('0x' || substr(md5(concat_ws(':', 'ares', '11', row_id::VARCHAR)), 1, 8))::BIGINT
         |                / 4294967296.0)) / (l_linenumber::DOUBLE) AS akey
         |  FROM ranked
         |),
         |r0 AS (SELECT *, row_number() OVER (ORDER BY akey DESC, row_id) - 1 AS arank FROM a0),
         |s0 AS (SELECT l_orderkey, l_linenumber, row_id FROM r0
         |       WHERE arank < (SELECT count(*) // 3 FROM lineitem)),
         |a1 AS (
         |  SELECT *, ln((('0x' || substr(md5(concat_ws(':', 'ares1', '11', row_id::VARCHAR)), 1, 8))::BIGINT
         |                / 4294967296.0)) / (l_linenumber::DOUBLE) AS akey
         |  FROM ranked
         |),
         |r1 AS (SELECT *, row_number() OVER (ORDER BY akey DESC, row_id) - 1 AS arank FROM a1),
         |s1 AS (SELECT l_orderkey, l_linenumber, row_id FROM r1
         |       WHERE arank < (SELECT count(*) // 2 - count(*) // 3 FROM lineitem)),
         |al AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),
         |g AS (SELECT l_orderkey, l_linenumber, row_id, count(*) AS c FROM al GROUP BY 1, 2, 3),
         |ex AS (SELECT l_orderkey, l_linenumber, row_id,
         |              unnest(generate_series(1, c)) AS copy
         |       FROM g),
         |sr AS (SELECT *, row_number() OVER (ORDER BY row_id, copy) - 1 AS srank FROM ex),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'wblock', '11', (srank // 8)::VARCHAR)) AS bkey
         |  FROM sr
         |)
         |SELECT l_orderkey, l_linenumber, copy::BIGINT AS copy,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin),

    // O4: inverse-class-frequency balanced sampling over l_returnflag
    "o4_class_balanced" -> Q((s, dir) =>
      {
      val c = li(s, dir)
      ClassBalancedSampling(col("l_returnflag"), totalSize = 3 * c.length / 2,
        blockSize = 16, rng = Rng.Md5)
        .plan(c, 13)
      }
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col(SamplingStrategy.Copy).cast("long").as("copy"),
          col(SamplingStrategy.Ord).as("ord")),
      s"""${RankedFlagCte},
         |cnts AS (SELECT l_returnflag AS lbl, count(*) AS cnt FROM lineitem GROUP BY 1),
         |w AS (
         |  SELECT r.*, CAST(round((1000000.0 * (SELECT count(*) FROM lineitem)) /
         |    ((SELECT count(*) FROM cnts) * c.cnt)::DOUBLE) AS BIGINT) AS wi
         |  FROM ranked r JOIN cnts c ON r.l_returnflag = c.lbl
         |),
         |c AS (
         |  SELECT *, sum(wi) OVER (ORDER BY row_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM w
         |),
         |params AS (
         |  SELECT max(cum)::DOUBLE AS tw,
         |         (('0x' || substr(md5('offset:13'), 1, 8))::BIGINT / 4294967296.0) AS off
         |  FROM c
         |),
         |cp AS (
         |  SELECT *,
         |    CAST(ceil(cum::DOUBLE / (SELECT tw FROM params) * CAST(3 * (SELECT count(*) FROM lineitem) // 2 AS DOUBLE) - (SELECT off FROM params))
         |       - ceil((cum - wi)::DOUBLE / (SELECT tw FROM params) * CAST(3 * (SELECT count(*) FROM lineitem) // 2 AS DOUBLE) - (SELECT off FROM params)) AS INT) AS copies
         |  FROM c
         |),
         |ex AS (
         |  SELECT l_orderkey, l_linenumber, l_returnflag, row_id,
         |         unnest(generate_series(1, copies)) AS copy
         |  FROM cp WHERE copies > 0
         |),
         |sr AS (
         |  SELECT *, row_number() OVER (ORDER BY row_id, copy) - 1 AS srank FROM ex
         |),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'wblock', '13', (srank // 16)::VARCHAR)) AS bkey
         |  FROM sr
         |)
         |SELECT l_orderkey, l_linenumber, l_returnflag, copy::BIGINT AS copy,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin),

    // U9: smoothed inverse-frequency weights, normalized to sum = n
    // (reference training_experiments/utils/weights.py:97-114).  The k-term
    // normalizer is reduced in source order on the driver — deterministic.
    "u9_balanced_weights" -> Q((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val k = counts.length
      val n = counts.map(_._2).sum
      val raw = counts.map { case (src, c) =>
        (src, c, n.toDouble / (k * (c + 10)).toDouble) }
      val sum = raw.map { case (_, c, w) => c * w }.reduceLeft(_ + _)
      val norm = n.toDouble / sum
      val rows = raw.map { case (src, c, w) =>
        (src, c, BigDecimal(w * norm)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      s.createDataFrame(rows.toSeq).toDF("source", "cnt", "weight")
    },
      """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        |p AS (SELECT (SELECT count(*) FROM c) AS k, (SELECT count(*) FROM documents) AS n),
        |w AS (
        |  SELECT source, cnt,
        |         (SELECT n FROM p)::DOUBLE / ((SELECT k FROM p) * (cnt + 10))::DOUBLE AS wr
        |  FROM c
        |),
        |s AS (SELECT list_reduce(list(cnt * wr ORDER BY source), (a, b) -> a + b) AS tot FROM w)
        |SELECT source, cnt,
        |       round(wr * ((SELECT n FROM p)::DOUBLE / (SELECT tot FROM s)), 6) AS weight
        |FROM w""".stripMargin),

    // A2: per-batch Shannon entropy of c_mktsegment under streaming batching
    // (reference benchmarks/utils.py:246-259).  The per-batch float sum is
    // an ORDERED fold over segment-sorted counts (integer totals), so the
    // result is independent of partial-aggregation order — the same
    // hardening that fixed stream_sessions.
    "a2_batch_entropy" -> Q((s, dir) => {
      val c = ScCollection.fromParquet(s, s"$dir/customer.parquet",
        Seq("c_custkey"), Seq("c_mktsegment"))
      val b = c.df.withColumn("batch_id", floor(col("row_id") / 100))
      val g = b.groupBy("batch_id", "c_mktsegment").agg(count(lit(1)).as("cnt"))
      g.groupBy("batch_id")
        .agg(sort_array(collect_list(struct(
          col("c_mktsegment").as("seg"), col("cnt")))).as("scnts"))
        .withColumn("tot",
          aggregate(col("scnts"), lit(0L), (a, x) => a + x("cnt")).cast("double"))
        .withColumn("ent", aggregate(col("scnts"), lit(0.0), (a, x) => {
          val p = x("cnt").cast("double") / col("tot")
          a + p * log2(p)
        }))
        .select(col("batch_id"), round(lit(0.0) - col("ent"), 6).as("entropy"))
    },
      """WITH r AS (
        |  SELECT c_mktsegment, row_number() OVER (ORDER BY c_custkey) - 1 AS row_id
        |  FROM customer
        |),
        |b AS (SELECT row_id // 100 AS batch_id, c_mktsegment FROM r),
        |g AS (SELECT batch_id, c_mktsegment, count(*) AS cnt FROM b GROUP BY 1, 2),
        |l AS (
        |  SELECT batch_id, list(cnt ORDER BY c_mktsegment) AS cnts,
        |         sum(cnt) AS tot
        |  FROM g GROUP BY batch_id
        |),
        |e AS (
        |  SELECT batch_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(cnts,
        |      c -> (c::DOUBLE / tot::DOUBLE) * log2(c::DOUBLE / tot::DOUBLE))),
        |      (a, x) -> a + x) AS ent
        |  FROM l
        |)
        |SELECT batch_id, round(0.0 - ent, 6) AS entropy FROM e""".stripMargin),

    // U6: custom codegen Expression — sparse (index,value) rows → dense,
    // flattened for comparison
    "u6_sparse_to_dense" -> Q((s, dir) => {
      val sparse = s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(
          struct(col("l_linenumber"), col("l_quantity")))).as("sl"))
        .select(col("l_orderkey"),
          transform(col("sl"), x => x("l_linenumber").cast("long")).as("genes"),
          transform(col("sl"), x => x("l_quantity")).as("exprs"))
      sparse.select(col("l_orderkey"),
          posexplode(SparseToDense.sparseToDense(col("genes"), col("exprs"), 7)))
        .select(col("l_orderkey"), col("pos").cast("long").as("pos"),
          col("col").as("val"))
    },
      """WITH pos AS (SELECT unnest(generate_series(0, 6)) AS pos),
        |o AS (SELECT DISTINCT l_orderkey FROM lineitem),
        |lv AS (
        |  SELECT l_orderkey, l_linenumber, max(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT o.l_orderkey, p.pos, coalesce(l.q, 0.0) AS val
        |FROM o CROSS JOIN pos p
        |LEFT JOIN lv l
        |  ON l.l_orderkey = o.l_orderkey AND l.l_linenumber = p.pos + 1""".stripMargin),

    // The SURVEY §2 operators that previously had
    // library support but no oracle-checked query — multi-file union (S2),
    // sort-before-fetch order (O5), epoch seed management (B6), materialize+
    // densify+project (U5), IVF coarse assignment (ANN scale path), sliding
    // windows, the multimodal stub decoder (full feature surface), and the
    // auto-config advisor (A4–A6, rows-only: SizeEstimator is JVM-specific).

    // B6: epoch seed derivation — same base seed, epochs 0/1 give distinct
    // deterministic orders (seed + 1000*epoch)
    "b6_epoch_divergence" -> Q((s, dir) => {
      // two epoch plans + a join consume the collection ~4 times: use the
      // prepare-once handle so the rank sort runs once
      val c = ScCollection.fromParquetCached(s, s"$dir/part.parquet",
        Seq("p_partkey"))
      val ds = ScDataset(c, BlockShuffling(blockSize = 8, rng = Rng.Md5),
        batchSize = 64, seed = 42L)
      val e0 = ds.strategy.plan(c, ds.epochSeed(0))
        .select(col("row_id"), col("p_partkey"),
          col(SamplingStrategy.Ord).as("ord_e0"))
      val e1 = ds.strategy.plan(c, ds.epochSeed(1))
        .select(col("row_id"), col(SamplingStrategy.Ord).as("ord_e1"))
      e0.join(e1, "row_id").select("p_partkey", "ord_e0", "ord_e1")
    },
      """WITH r AS (
        |  SELECT p_partkey, row_number() OVER (ORDER BY p_partkey) - 1 AS rid
        |  FROM part
        |),
        |a AS (
        |  SELECT p_partkey, row_number() OVER (
        |    ORDER BY md5(concat_ws(':', 'block', '42', (rid // 8)::VARCHAR)), rid) - 1 AS ord_e0
        |  FROM r
        |),
        |b AS (
        |  SELECT p_partkey, row_number() OVER (
        |    ORDER BY md5(concat_ws(':', 'block', '1042', (rid // 8)::VARCHAR)), rid) - 1 AS ord_e1
        |  FROM r
        |)
        |SELECT p_partkey, ord_e0, ord_e1 FROM a JOIN b USING (p_partkey)""".stripMargin),

    // U5: AnnData materialize analogue — densify sparse rows AND project an
    // obs metadata column in one pass (broadcast dimension join)
    "u5_densify_project" -> Q((s, dir) => {
      val sparse = s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(
          struct(col("l_linenumber"), col("l_quantity")))).as("sl"))
        .select(col("l_orderkey"),
          transform(col("sl"), x => x("l_linenumber").cast("long")).as("genes"),
          transform(col("sl"), x => x("l_quantity")).as("exprs"))
      val obs = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      sparse.join(broadcast(obs), Seq("l_orderkey"))
        .select(col("l_orderkey"), col("o_orderpriority"),
          posexplode(SparseToDense.sparseToDense(col("genes"), col("exprs"), 7)))
        .select(col("l_orderkey"), col("o_orderpriority"),
          col("pos").cast("long").as("pos"), col("col").as("val"))
    },
      """WITH pos AS (SELECT unnest(generate_series(0, 6)) AS pos),
        |o AS (SELECT DISTINCT l_orderkey FROM lineitem),
        |lv AS (
        |  SELECT l_orderkey, l_linenumber, max(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT o.l_orderkey, ord.o_orderpriority, p.pos, coalesce(l.q, 0.0) AS val
        |FROM o CROSS JOIN pos p
        |JOIN orders ord ON ord.o_orderkey = o.l_orderkey
        |LEFT JOIN lv l
        |  ON l.l_orderkey = o.l_orderkey AND l.l_linenumber = p.pos + 1""".stripMargin),

    // A6: parameter suggestion over a fixed (cores, sampleBytes, batchSize,
    // ram) grid — the pure arithmetic of AutoConfig.suggestFor, which the
    // oracle reproduces in SQL.  The SizeEstimator-based probe (A4/A5,
    // JVM-build-specific, NOT SQL-reproducible) stays exercised by the
    // estimateSampleBytes spec; this query pins the formula itself.
    "a6_autoconfig" -> Q((s, dir) => {
      val grid = for {
        cores <- Seq(8, 32, 1000)
        sampleBytes <- Seq(256L, 4096L, 262144L, 1048576L)
        batchSize <- Seq(32, 256)
        ram <- Seq(8L << 30, 64L << 30)
      } yield {
        val sg = AutoConfig.suggestFor(cores, sampleBytes, batchSize, ram)
        (cores.toLong, sampleBytes, batchSize.toLong, ram,
          sg.workers.toLong, sg.fetchFactor.toLong, sg.blockSizeSmall.toLong,
          sg.blockSize.toLong, sg.blockSizeLarge.toLong,
          sg.prefetchFactor.toLong, sg.shufflePartitions.toLong,
          sg.maxPartitionBytes)
      }
      import s.implicits._
      grid.toDF("cores", "sample_bytes", "batch_size", "ram_bytes",
        "workers", "fetch_factor", "block_size_small", "block_size",
        "block_size_large", "prefetch_factor", "shuffle_partitions",
        "max_partition_bytes")
    },
      // the suggestFor formula mirrored in SQL over the same fixed grid:
      // workers = clamp(cores/2, 1..16); budget = trunc(0.2·ram);
      // ff = min(1024, 2^floor(log2(max(1, budget/(2·bs·workers·sample)))))
      // via a power-of-two list (no float log2); block tiers ff/2, ff, 2·ff;
      // prefetch ff+1; shuffle = max(2·cores, 32);
      // maxPartitionBytes = clamp(budget/cores, 16 MiB..512 MiB)
      """WITH g AS (
        |  SELECT c.cores, sb.sample_bytes, bs.batch_size, r.ram_bytes
        |  FROM (VALUES (8), (32), (1000)) c(cores)
        |  CROSS JOIN (VALUES (256), (4096), (262144), (1048576)) sb(sample_bytes)
        |  CROSS JOIN (VALUES (32), (256)) bs(batch_size)
        |  CROSS JOIN (VALUES (8589934592), (68719476736)) r(ram_bytes)
        |),
        |f AS (
        |  SELECT *,
        |    greatest(1, least(cores // 2, 16)) AS workers,
        |    CAST(trunc(0.2 * ram_bytes) AS BIGINT) AS budget
        |  FROM g
        |),
        |f2 AS (
        |  SELECT *, list_max(list_filter(
        |      [1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024],
        |      p -> p <= greatest(CAST(1 AS BIGINT),
        |        budget // (2 * batch_size * workers * sample_bytes)))) AS ff
        |  FROM f
        |)
        |SELECT CAST(cores AS BIGINT) AS cores,
        |  CAST(sample_bytes AS BIGINT) AS sample_bytes,
        |  CAST(batch_size AS BIGINT) AS batch_size,
        |  CAST(ram_bytes AS BIGINT) AS ram_bytes,
        |  CAST(workers AS BIGINT) AS workers,
        |  CAST(ff AS BIGINT) AS fetch_factor,
        |  CAST(greatest(1, ff // 2) AS BIGINT) AS block_size_small,
        |  CAST(ff AS BIGINT) AS block_size,
        |  CAST(ff * 2 AS BIGINT) AS block_size_large,
        |  CAST(ff + 1 AS BIGINT) AS prefetch_factor,
        |  CAST(greatest(2 * cores, 32) AS BIGINT) AS shuffle_partitions,
        |  CAST(greatest(16777216, least(536870912, budget // cores)) AS BIGINT)
        |    AS max_partition_bytes
        |FROM f2""".stripMargin),

    // Round-7 pipeline queries: the curation operators a large-scale
    // training-data pipeline composes around the core engine — deterministic
    // train/val/test hash splits, the one-pass quality gate, corpus vocabulary,
    // exact class centroids over embeddings, and first-occurrence event dedup
    // (the batch semantics of streaming dropDuplicates).  All oracle-checked.

    // P3 at scale: deterministic hash split — assignment is a pure function
    // of (seed, doc_id), no driver index arrays (the reference builds
    // per-split row-index lists on the driver; loader.py:387-448)
    "p3_hash_split" -> Q((s, dir) =>
      SplitOps.withSplit(docs(s, dir), col("doc_id"), seed = 42L, Fracs)
        .select("doc_id", "split"),
      """SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train'
        |       WHEN u < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    (('0x' || substr(md5(concat_ws(':', 'split', '42', (doc_id)::VARCHAR)), 1, 8))::BIGINT
        |     / 4294967296.0) AS u
        |  FROM documents)""".stripMargin),

    // Domain-mixture resampling: fixed target proportions over sources
    // (src0 5/26, src1 3/26, rest 1/26 each), with replacement
    "o3_domain_mixture" -> Q((s, dir) => {
      val c = ScCollection.fromParquet(s, s"$dir/documents.parquet",
        Seq("doc_id"), Seq("source"))
      MixtureSampling(col("source"), MixParts.toMap, totalSize = 2 * c.length,
        blockSize = 8, rng = Rng.Md5).plan(c, 17)
        .select(col("doc_id"), col("source"),
          col(SamplingStrategy.Copy).cast("long").as("copy"),
          col(SamplingStrategy.Ord).as("ord"))
    },
      {
      val partsValues = MixParts
        .map { case (s, p) => s"('$s', $p)" }.mkString(", ")
      s"""WITH r AS (
         |  SELECT doc_id, source, row_number() OVER (ORDER BY doc_id) - 1 AS row_id
         |  FROM documents
         |),
         |prt AS (SELECT * FROM (VALUES $partsValues) AS t(lbl, parts)),
         |cnts AS (SELECT source AS lbl, count(*) AS cnt FROM documents GROUP BY 1),
         |w AS (
         |  SELECT r.*, CAST(round(((1000000.0 * (SELECT count(*) FROM documents)) * p.parts::DOUBLE) /
         |    ((SELECT sum(parts) FROM prt) * c.cnt)::DOUBLE) AS BIGINT) AS wi
         |  FROM r JOIN cnts c ON r.source = c.lbl JOIN prt p ON r.source = p.lbl
         |),
         |c AS (
         |  SELECT *, sum(wi) OVER (ORDER BY row_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM w
         |),
         |params AS (
         |  SELECT max(cum)::DOUBLE AS tw,
         |         (('0x' || substr(md5('offset:17'), 1, 8))::BIGINT / 4294967296.0) AS off
         |  FROM c
         |),
         |cp AS (
         |  SELECT *,
         |    CAST(ceil(cum::DOUBLE / (SELECT tw FROM params) * CAST(2 * (SELECT count(*) FROM documents) AS DOUBLE) - (SELECT off FROM params))
         |       - ceil((cum - wi)::DOUBLE / (SELECT tw FROM params) * CAST(2 * (SELECT count(*) FROM documents) AS DOUBLE) - (SELECT off FROM params)) AS INT) AS copies
         |  FROM c
         |),
         |ex AS (
         |  SELECT doc_id, source, row_id,
         |         unnest(generate_series(1, copies)) AS copy
         |  FROM cp WHERE copies > 0
         |),
         |sr AS (
         |  SELECT *, row_number() OVER (ORDER BY row_id, copy) - 1 AS srank FROM ex
         |),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'wblock', '17', (srank // 8)::VARCHAR)) AS bkey
         |  FROM sr
         |)
         |SELECT doc_id, source, copy::BIGINT AS copy,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin
    }),

    // Stratified Bernoulli sample: named per-source keep fractions, the
    // rest at 10% — pure hash predicate, no shuffle
    "p3_stratified" -> Q((s, dir) =>
      graft.ops.SplitOps.stratifiedSample(Tables.docs(s, dir),
        col("source"), col("doc_id"), seed = 7L,
        fractions = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        default = 0.1)
        .select("doc_id", "source"),
      s"""SELECT doc_id, source FROM documents
         |WHERE ${graft.core.Rng.Md5.uniformSql(7L, "strat", Seq("doc_id"))} <
         |  CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
         |              WHEN 'src2' THEN 0.25 ELSE 0.1 END""".stripMargin),

    // Temperature-rebalanced domain mix (alpha = 0.5): kept counts
    // ∝ n_src^0.5, smallest source kept whole
    "o3_temperature" -> Q((s, dir) =>
      graft.ops.SplitOps.temperatureSample(Tables.docs(s, dir),
        col("source"), col("doc_id"), seed = 11L, alpha = 0.5)
        .select("doc_id", "source"),
      s"""WITH c AS (
         |  SELECT source AS cls, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
         |mn AS (SELECT min(n) AS nmin FROM c),
         |f AS (
         |  SELECT cls, round(least(1.0, pow(n / nmin, -0.5)), 6) AS fr
         |  FROM c CROSS JOIN mn)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN f ON f.cls = d.source
         |WHERE ${graft.core.Rng.Md5.uniformSql(11L, "temp", Seq("d.doc_id"))} < f.fr""".stripMargin),

    // Exact per-domain quota: a deterministic uniform <=8 docs per source
    // (WindowGroupLimit keeps the per-class state at O(k))
    "p3_quota" -> Q((s, dir) =>
      graft.ops.SplitOps.quotaSample(Tables.docs(s, dir),
        col("source"), col("doc_id"), seed = 13L, k = 8)
        .select("doc_id", "source"),
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${graft.core.Rng.Md5.sortKeySql(13L, "quota", Seq("doc_id"))}, doc_id) AS rn
         |  FROM documents)
         |SELECT doc_id, source FROM r WHERE rn <= 8""".stripMargin),

    // Leakage-safe split: near-dup clusters share one split assignment
    "p3_cluster_split" -> Q((s, dir) =>
      graft.ops.SplitOps.clusterSplit(Tables.docs(s, dir),
        Tables.minhashCands(s, dir),
        col("doc_id"), seed = 42L,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split"),
      // same cluster chain; split hashes on the cluster min-id label
      s"""WITH RECURSIVE ${DedupQueries.MinhashClusterSql}
         |SELECT doc_id,
         |  CASE WHEN u < 0.8 THEN 'train'
         |       WHEN u < 0.9 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (
         |  SELECT d.doc_id,
         |    ${graft.core.Rng.Md5.uniformSql(42L, "split",
                 Seq("coalesce(cl.root, d.doc_id)"))} AS u
         |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)""".stripMargin),

    // Token-budget mixture: src0 gets 3/5 of a 200k-token budget, src1 and
    // src2 1/5 each; every other source is dropped
    "o3_token_mixture" -> Q((s, dir) =>
      graft.ops.SplitOps.tokenMixtureSample(Tables.docs(s, dir),
        col("source"), col("doc_id"),
        size(graft.ops.TextOps.tokens(col("text"))), seed = 17L,
        weights = Map("src0" -> 3.0, "src1" -> 1.0, "src2" -> 1.0),
        totalTokens = 200000L)
        .select("doc_id", "source"),
      s"""WITH c AS (
         |  SELECT source AS cls,
         |    sum(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')))::DOUBLE AS toks
         |  FROM documents GROUP BY 1),
         |f AS (
         |  SELECT cls,
         |    round(least(1.0, 200000.0 *
         |      (CASE cls WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.0 WHEN 'src2' THEN 1.0 END)
         |      / 5.0 / toks), 6) AS fr
         |  FROM c WHERE cls IN ('src0', 'src1', 'src2'))
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN f ON f.cls = d.source
         |WHERE ${graft.core.Rng.Md5.uniformSql(17L, "tokmix", Seq("d.doc_id"))} < f.fr""".stripMargin),

    // Upsampling: src0 and src1 repeated to fill a 2M-token budget at
    // 5:1 — epochs-plus-remainder, deterministic per (seed, doc)
    "o3_upsample" -> Q((s, dir) =>
      graft.ops.SplitOps.upsampleMixture(Tables.docs(s, dir),
        col("source"), col("doc_id"),
        size(graft.ops.TextOps.tokens(col("text"))), seed = 19L,
        weights = Map("src0" -> 5.0, "src1" -> 1.0),
        totalTokens = 2000000L)
        .select("doc_id", "source", "copy"),
      s"""WITH c AS (
         |  SELECT source AS cls,
         |    sum(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')))::DOUBLE AS toks
         |  FROM documents GROUP BY 1),
         |f AS (
         |  SELECT cls,
         |    round(2000000.0 *
         |      (CASE cls WHEN 'src0' THEN 5.0 WHEN 'src1' THEN 1.0 END)
         |      / 6.0 / toks, 6) AS fr
         |  FROM c WHERE cls IN ('src0', 'src1')),
         |r AS (
         |  SELECT d.doc_id, d.source,
         |    (floor(f.fr)::INT + CASE
         |       WHEN ${graft.core.Rng.Md5.uniformSql(19L, "upsamp", Seq("d.doc_id"))} < f.fr - floor(f.fr)
         |       THEN 1 ELSE 0 END) AS reps
         |  FROM documents d JOIN f ON f.cls = d.source)
         |SELECT doc_id, source, u::BIGINT AS copy
         |FROM (SELECT doc_id, source, unnest(generate_series(0, reps - 1)) AS u
         |      FROM r WHERE reps > 0)""".stripMargin),

    // Deterministic weighted interleave of four sources into one ordered
    // training stream (4:2:1:1)
    "o3_interleave" -> Q((s, dir) =>
      SplitOps.interleaveBySource(Tables.docs(s, dir), col("source"),
        col("doc_id"), InterleaveWeights),
      """WITH w(cls, wt) AS (VALUES ('src0', 4), ('src1', 2), ('src2', 1), ('src3', 1)),
        |r AS (
        |  SELECT d.doc_id, d.source AS cls, w.wt,
        |    row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rn
        |  FROM documents d JOIN w ON w.cls = d.source),
        |i AS (SELECT doc_id, cls, rn, (rn * 720720) // wt AS ik FROM r)
        |SELECT doc_id, cls, ik::BIGINT AS ik,
        |  (row_number() OVER (ORDER BY ik, cls, rn) - 1)::BIGINT AS pos
        |FROM i""".stripMargin),

    // Exact-count split: test gets exactly 50 docs, val exactly 25, the
    // rest train — deterministic md5 order, range-partitioned rank
    "p3_exact_split" -> Q((s, dir) =>
      SplitOps.exactSplit(Tables.docs(s, dir)
          .select(col("doc_id"), col("source")),
        col("doc_id"), seed = 7L,
        counts = Seq("test" -> 50L, "val" -> 25L)),
      {
      val sk = graft.core.Rng.Md5.sortKeySql(7L, "exact_split", Seq("doc_id"))
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (ORDER BY $sk, doc_id) - 1 AS xr
         |  FROM documents
         |)
         |SELECT doc_id, source,
         |  CASE WHEN xr < 50 THEN 'test'
         |       WHEN xr < 75 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM r""".stripMargin
    }),

    // Weighted sampling without replacement, 20 docs per language with
    // inclusion odds tracking n_chars (A-Res u^(1/w) key)
    "p3_weighted_quota" -> Q((s, dir) =>
      SplitOps.weightedQuotaSample(
        Tables.docs(s, dir).select("doc_id", "lang", "n_chars"),
        col("lang"), col("doc_id"), col("n_chars"), seed = 7L, k = 20)
        .select("doc_id", "lang", "sample_key"),
      {
      val u = graft.core.Rng.Md5.uniformSql(7L, "wquota", Seq("doc_id"))
      s"""WITH x AS (
         |  SELECT doc_id, lang,
         |    round(pow($u, 1.0 / n_chars), 6) AS sample_key
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY sample_key DESC, doc_id) AS rn FROM x)
         |SELECT doc_id, lang, sample_key FROM r WHERE rn <= 20""".stripMargin
    }),

    // Poisson(1) bootstrap: each doc replicated c ~ Poisson(1) times from
    // its md5 uniform — the distributed bagging resample, no shuffle
    "o3_bootstrap" -> Q((s, dir) =>
      SplitOps.bootstrapSample(Tables.docs(s, dir).select("doc_id"),
        col("doc_id"), seed = 11L),
      {
      val u = graft.core.Rng.Md5.uniformSql(11L, "boot", Seq("doc_id"))
      val cum = SplitOps.poissonCum(1.0)
      val cases = cum.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString("\n    ")
      s"""WITH d AS (SELECT doc_id, $u AS u FROM documents),
         |c AS (SELECT doc_id, CASE
         |    $cases
         |    ELSE ${cum.size} END AS n
         |  FROM d)
         |SELECT doc_id, unnest(generate_series(0, n - 1)) AS copy
         |FROM c WHERE n > 0""".stripMargin
    }),

    // Split manifest: per-split doc/char totals after the hash split —
    // the dataset-card numbers a release ships with
    "p3_split_manifest" -> Q((s, dir) => {
      val d = Tables.docs(s, dir)
      SplitOps.withSplit(d.select("doc_id", "n_chars"), col("doc_id"),
          seed = 42L, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    },
      {
      val u = graft.core.Rng.Md5.uniformSql(42L, "split", Seq("doc_id"))
      s"""WITH sp AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN u < 0.8 THEN 'train'
         |         WHEN u < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, n_chars, $u AS u FROM documents))
         |SELECT split, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS chars
         |FROM sp GROUP BY split""".stripMargin
    }),

    // The DataSource V2 generator source, checked
    // against a SQL regeneration of the same table.

    // Read 100k rows from the custom DSv2 connector (8 input partitions)
    // and aggregate — the oracle REGENERATES the table in SQL from the
    // same integer formulas, so the connector's full stack (planning,
    // partitioning, row emission) is value-checked, not smoke-tested.
    "s1_gen_source" -> Q((s, _) =>
      s.read.format("graft.sources.GraftGenSource")
        .option("rows", "100000").option("parts", "8").option("seed", "7")
        .load()
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("id").as("id_sum"),
          sum(floor(col("val") * lit(1000.0)).cast("long")).as("val_mil")),
      """WITH g AS (SELECT i AS id,
        |    (((i + 7) % 1048576) * 40503 % 100)::INT AS bucket,
        |    ((((i + 7) % 1048576) * 2654435761 % 1000000) / 1000.0) AS val
        |  FROM generate_series(0, 99999) t(i))
        |SELECT bucket, count(*)::BIGINT AS n, sum(id)::BIGINT AS id_sum,
        |  sum(floor(val * 1000.0)::BIGINT)::BIGINT AS val_mil
        |FROM g GROUP BY 1""".stripMargin),

    // Temperature-scaled language mixture (alpha = 0.5): en dominates
    // the corpus, so its resampling weight drops below 1 while tail
    // languages rise — the multilingual-sampling recipe as one
    // aggregation + broadcast total.
    "mix_temperature" -> Q((s, dir) =>
      TextOps.sourceMixtureWeights(Tables.docs(s, dir), col("lang"),
        alpha = 0.5),
      """WITH c AS (SELECT lang AS source, count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(n)::DOUBLE AS tot,
        |             sum(pow(n::DOUBLE, 0.5)) AS ptot FROM c)
        |SELECT source, n,
        |  round(n / tot, 6) AS share,
        |  round(pow(n::DOUBLE, 0.5) / ptot, 6) AS target_share,
        |  round((pow(n::DOUBLE, 0.5) / ptot) / (n / tot), 6)
        |    AS resample_w
        |FROM c, t""".stripMargin),

    "mix_share_sql" -> Q((s, dir) => {
      Tables.docs(s, dir).createOrReplaceTempView("documents")
      s.sql(MixShareSqlShared)
    },
      MixShareSqlShared)
  )
}
