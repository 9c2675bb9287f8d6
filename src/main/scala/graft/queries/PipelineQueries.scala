package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{BlockShuffling, Hooks, Rng, SamplingStrategy, ScCollection,
  ScDataset, Streaming}
import graft.ops.{DedupOps, EmbedOps, LayoutOps, SimilarityOps, SketchOps,
  SplitOps, TextOps}
import Tables.docs

/** Composed pipelines: multi-stage curation, packing and video/lake
  * dedup pipelines checked end to end against chained stage oracles.
  */
object PipelineQueries extends QueryDomain("pipelines") {

  private val FlatQuantiles =
    """h AS (
      |  SELECT (sh::BIGINT * 32 + (v >> sh)) AS bucket_id,
      |    ((v >> sh) << sh)::BIGINT AS lb,
      |    (((v >> sh) << sh) + ((1::BIGINT << sh) - 1))::BIGINT AS ub,
      |    count(*)::BIGINT AS n
      |  FROM (SELECT n_chars::BIGINT AS v,
      |      greatest(0, length(bin(n_chars::BIGINT)) - 1 - 4) AS sh
      |    FROM documents)
      |  GROUP BY 1, 2, 3),
      |c AS (SELECT bucket_id, lb, ub,
      |    sum(n) OVER (ORDER BY bucket_id) AS cum FROM h),
      |t AS (SELECT sum(n)::BIGINT AS n_total FROM h),
      |q AS (SELECT * FROM (VALUES (1, 20), (19, 20)) AS v(q_num, q_den)),
      |r AS (SELECT q_num, q_den,
      |    (q_num::BIGINT * n_total + q_den - 1) // q_den AS rank
      |  FROM q, t),
      |est AS (
      |  SELECT round(r.q_num::DOUBLE / r.q_den, 6) AS q,
      |    min(c.lb)::BIGINT AS est_lb, min(c.ub)::BIGINT AS est_ub
      |  FROM r JOIN c ON c.cum >= r.rank
      |  GROUP BY 1),
      |bounds AS (
      |  SELECT min(CASE WHEN q = 0.05 THEN est_lb END) AS lo,
      |         max(CASE WHEN q = 0.95 THEN est_ub END) AS hi
      |  FROM est)""".stripMargin

  /** Canonically-ordered equal-frame pairs WITHIN one frame-hash set:
    * md5-bucketed (single shuffle key), luma-equality confirmed,
    * (doc, frame) lexicographic. */
  private def framePairsWithin(fr: DataFrame): DataFrame =
    fr.as("a").join(fr.as("b"),
        col("a.__k") === col("b.__k") && col("a.luma") === col("b.luma") &&
          (col("a.doc_id") < col("b.doc_id") ||
            (col("a.doc_id") === col("b.doc_id") &&
              col("a.frame") < col("b.frame"))))
      .select(col("a.doc_id").as("doc_a"), col("a.frame").as("frame_a"),
        col("b.doc_id").as("doc_b"), col("b.frame").as("frame_b"))

  /** Equal-frame pairs ACROSS two disjoint frame-hash sets (persisted
    * index × delta), canonicalized to (doc, frame) lexicographic order
    * — doc sets are disjoint by construction (each doc commits once),
    * so the ordering predicate has no ties. */
  private def framePairsAcross(old: DataFrame, delta: DataFrame)
      : DataFrame = {
    val joined = old.as("a").join(delta.as("b"),
      col("a.__k") === col("b.__k") && col("a.luma") === col("b.luma"))
    val aFirst = col("a.doc_id") < col("b.doc_id") ||
      (col("a.doc_id") === col("b.doc_id") &&
        col("a.frame") < col("b.frame"))
    joined.select(
      when(aFirst, col("a.doc_id")).otherwise(col("b.doc_id")).as("doc_a"),
      when(aFirst, col("a.frame")).otherwise(col("b.frame")).as("frame_a"),
      when(aFirst, col("b.doc_id")).otherwise(col("a.doc_id")).as("doc_b"),
      when(aFirst, col("b.frame")).otherwise(col("a.frame")).as("frame_b"))
  }

  val entries: Seq[(String, Q)] = Seq(
    // Flagship pipeline: BlockShuffling → fetch windows → within-fetch
    // permutation → batch slicing → dropLast trim (S1+O2+O5+O6+B1+B2+P6)
    "pipeline_block" -> Q((s, dir) => {
      val ds = ScDataset(SamplingQueries.li(s, dir),
        BlockShuffling(blockSize = 32, rng = Rng.Md5),
        batchSize = 16, fetchFactor = 8, dropLast = true, seed = 42L)
      ds.planFrame(0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord"), col("fetch_id"),
          col("__pos").as("pos"), col("batch_id"), col("pos_in_batch"))
    },
      s"""${SamplingQueries.RankedCte},
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'block', '42', (row_id // 32)::VARCHAR)) AS bkey
         |  FROM ranked
         |),
         |o AS (
         |  SELECT l_orderkey, l_linenumber,
         |         row_number() OVER (ORDER BY bkey, row_id) - 1 AS ord
         |  FROM k
         |),
         |f AS (SELECT *, ord // 128 AS fetch_id FROM o),
         |p AS (
         |  SELECT *, fetch_id * 128 + row_number() OVER (
         |    PARTITION BY fetch_id
         |    ORDER BY md5(concat_ws(':', 'yield', '42', ord::VARCHAR)), ord
         |  ) - 1 AS pos
         |  FROM f
         |)
         |SELECT l_orderkey, l_linenumber, ord, fetch_id, pos,
         |       pos // 16 AS batch_id, pos % 16 AS pos_in_batch
         |FROM p
         |WHERE pos < (SELECT (count(*) // 16) * 16 FROM lineitem)""".stripMargin),

    // U2+U3+U4: the full hook pipeline, end-to-end — fetchTransform derives
    // a column on the planned frame, batchAssemble overrides batch
    // extraction with per-batch aggregates, batchTransform finalizes each
    // batch row.  Streaming order keeps the epoch math SQL-expressible.
    "u2_hooks_pipeline" -> Q((s, dir) => {
      val c = ScCollection.fromParquet(s, s"$dir/customer.parquet",
        Seq("c_custkey"))
      val hooks = Hooks(
        fetchTransform = df => df.withColumn("acct_cents",
          (col("c_acctbal") * 100).cast("long")),
        batchAssemble = Some((pf, _) =>
          pf.groupBy(col("batch_id"))
            .agg(count(lit(1)).as("n"), sum("acct_cents").as("cents_sum"))),
        batchTransform = bf => bf.withColumn("cents_mean",
          (col("cents_sum") / col("n")).cast("long")))
      ScDataset(c, Streaming(rng = Rng.Md5), batchSize = 128, seed = 42L,
        hooks = hooks)
        .toBatchFrame(0, Nil)
        .select(col("batch_id"), col("n"), col("cents_sum"), col("cents_mean"))
    },
      """WITH r AS (
        |  SELECT c_acctbal, row_number() OVER (ORDER BY c_custkey) - 1 AS rid
        |  FROM customer
        |),
        |b AS (
        |  SELECT rid // 128 AS batch_id,
        |         CAST(trunc(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM r
        |)
        |SELECT batch_id, count(*) AS n,
        |       CAST(sum(cents) AS BIGINT) AS cents_sum,
        |       CAST(trunc(CAST(sum(cents) AS DOUBLE) / count(*)) AS BIGINT) AS cents_mean
        |FROM b GROUP BY batch_id""".stripMargin),

    // Sequence packing under a 256-token budget (concat-and-chunk plan)
    "pack_plan" -> Q((s, dir) =>
      TextOps.packPlan(docs(s, dir), col("text"), col("doc_id"), budget = 256L),
      """WITH t AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tokens
        |  FROM documents
        |),
        |c AS (
        |  SELECT *, sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |),
        |s AS (SELECT doc_id, n_tokens, cum - n_tokens AS strt FROM c)
        |SELECT doc_id, n_tokens, CAST(strt // 256 AS BIGINT) AS pack_id,
        |       CAST(strt % 256 AS BIGINT) AS pack_offset,
        |       (strt % 256) + n_tokens > 256 AS spans_boundary
        |FROM s""".stripMargin),

    // Flagship curation pipeline, end to end in ONE plan: quality gate →
    // exact dedup (first occurrence wins) → hash split → train shards.
    // Every stage is an already-oracled operator; the composition is the
    // production shape — gate prunes before dedup hashes, dedup prunes
    // before the split, only train pays the shard window.
    "pipeline_curate" -> Q((s, dir) => {
      val d = Tables.docs(s, dir)
      val gated = TextOps.filterPipeline(d, col("text"), col("doc_id"),
        minTokens = 20L, maxTokens = 1000L, minQuality = 0.5,
        langs = Seq("en", "de", "es", "fr"))
      val gatedDocs = d.join(gated.select("doc_id"), "doc_id")
      val kept = DedupOps.exactDedup(gatedDocs, col("text"), col("doc_id"))
      val split = SplitOps.withSplit(kept.select("doc_id"), col("doc_id"),
        seed = 42L, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val shards = SplitOps.exportShards(
        split.where(col("split") === "train").select("doc_id"),
        col("doc_id"), seed = 5L, nShards = 4)
      split.join(shards.select(col("doc_id"), col("shard"), col("pos")),
        Seq("doc_id"), "left")
    },
      // the four stage oracles chained as CTEs: the filter_pipeline gate,
      // min-id-per-digest dedup, the md5-uniform split, the shard window
      {
      val u = graft.core.Rng.Md5.uniformSql(42L, "split", Seq("doc_id"))
      val sk = graft.core.Rng.Md5.sortKeySql(5L, "shard", Seq("doc_id"))
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
         |  FROM documents
         |),
         |f AS (
         |  SELECT doc_id,
         |    len(toks) AS n_tokens,
         |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt,
         |    len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is','for','on'))) AS stop_hits,
         |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS s_de,
         |    len(list_filter(toks, x -> x IN ('el','los','las','una','que','por'))) AS s_es,
         |    len(list_filter(toks, x -> x IN ('le','les','des','est','dans','pour'))) AS s_fr,
         |    len(list_filter(toks, x -> x IN ('the','and','of','is','to','in'))) AS s_en
         |  FROM t
         |),
         |q AS (
         |  SELECT doc_id,
         |    CASE WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
         |         WHEN s_es > s_en AND s_es > s_fr THEN 'es'
         |         WHEN s_fr > s_en THEN 'fr'
         |         ELSE 'en' END AS lang_pred,
         |    n_tokens,
         |    round(
         |      0.4 * least(CAST(1.0 AS DOUBLE), n_tokens::DOUBLE / 200.0) +
         |      0.3 * (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_cnt::DOUBLE / greatest(n_tokens, 1)::DOUBLE)) +
         |      0.3 * least(CAST(1.0 AS DOUBLE), (stop_hits::DOUBLE / greatest(n_tokens, 1)::DOUBLE) * 5.0),
         |      6) AS quality
         |  FROM f
         |),
         |g AS (
         |  SELECT doc_id FROM q
         |  WHERE n_tokens >= 20 AND n_tokens <= 1000 AND quality >= 0.5
         |    AND lang_pred IN ('en', 'de', 'es', 'fr')
         |),
         |gd AS (SELECT d.doc_id, d.text FROM documents d JOIN g ON d.doc_id = g.doc_id),
         |kept AS (
         |  SELECT doc_id FROM gd
         |  WHERE doc_id IN (SELECT min(doc_id) FROM gd GROUP BY md5(text))
         |),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN u < 0.8 THEN 'train'
         |         WHEN u < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, $u AS u FROM kept)
         |),
         |tr AS (SELECT doc_id, $sk AS sk FROM sp WHERE split = 'train'),
         |sh AS (
         |  SELECT doc_id,
         |    ('0x' || substr(sk, 1, 8))::BIGINT % 4 AS shard, sk
         |  FROM tr
         |),
         |shp AS (
         |  SELECT doc_id, shard,
         |    row_number() OVER (PARTITION BY shard ORDER BY sk, doc_id) - 1 AS pos
         |  FROM sh
         |)
         |SELECT sp.doc_id, sp.split, shp.shard, shp.pos
         |FROM sp LEFT JOIN shp ON sp.doc_id = shp.doc_id""".stripMargin
    }),

    // Packing efficiency: context-window fill fraction and the
    // boundary-spanning doc count over the 256-token packPlan
    "pack_efficiency" -> Q((s, dir) =>
      TextOps.packPlan(Tables.docs(s, dir), col("text"), col("doc_id"),
          budget = 256L)
        .agg((max("pack_id") + 1).as("n_packs"),
          sum("n_tokens").as("total_tokens"),
          round(sum("n_tokens").cast("double") /
            ((max("pack_id") + 1).cast("double") * 256.0), 6)
            .as("fill_frac"),
          sum(when(col("spans_boundary"), 1L).otherwise(0L))
            .as("n_spanning")),
      {
      val plan = oracle("pack_plan")
      s"""WITH pp AS ($plan)
         |SELECT (max(pack_id) + 1)::BIGINT AS n_packs,
         |  sum(n_tokens)::BIGINT AS total_tokens,
         |  round(sum(n_tokens)::DOUBLE /
         |    ((max(pack_id) + 1)::DOUBLE * 256.0), 6) AS fill_frac,
         |  sum(CASE WHEN spans_boundary THEN 1 ELSE 0 END)::BIGINT AS n_spanning
         |FROM pp""".stripMargin
    }),

    // The 100 TB ingestion loop end-to-end: documents arrive as lake
    // commits; each lakeTail catch-up dedups ONLY the delta against the
    // persisted MinHash index (old corpus never re-hashed) and appends
    // the delta's bands.  The union of the staged candidate sets must
    // equal the FULL-corpus LSH pairs (every pair is found exactly when
    // its later shard arrives) — checked against the all-pairs oracle.
    "pipe_lake_dedup" -> Q((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val lake = LakeQueries.runTmp + "/pld_lake_" + tag
      val idx = LakeQueries.runTmp + "/pld_idx_" + tag
      val ckp = LakeQueries.runTmp + "/pld_ckp_" + tag
      val cand = LakeQueries.runTmp + "/pld_cand_" + tag
      if (LayoutOps.latestVersion(s, lake) < 0) {
        val d = Tables.docs(s, dir).select(col("doc_id"), col("text"))
        (0 until 3).foreach { k =>
          LayoutOps.commitAppend(d.where(col("doc_id") % 3 === k), lake)
          LayoutOps.lakeTail(s, lake, ckp) { (delta, _) =>
            val seeded = new java.io.File(
              idx.stripPrefix("file:")).exists
            val pairs =
              if (!seeded) graft.ops.DedupOps.minhashCandidates(
                delta, col("text"), col("doc_id"))
              else graft.ops.DedupOps.minhashCandidatesAgainst(
                idx, delta, col("text"), col("doc_id"))
            pairs.write.mode("append").parquet(cand)
            if (!seeded) graft.ops.DedupOps.minhashIndexWrite(
              delta, col("text"), col("doc_id"), idx)
            else graft.ops.DedupOps.minhashIndexAppend(
              delta, col("text"), col("doc_id"), idx)
          }
        }
      }
      s.read.parquet(cand).distinct()
    },
      // the full-corpus LSH pairs (same band construction as the
      // dd_minhash_* oracles) — the staged incremental union must equal it
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
        |  FROM documents
        |),
        |shg AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(t) >= 3
        |              THEN list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))
        |              ELSE [array_to_string(t, ' ')] END) AS shs
        |  FROM toks
        |),
        |sig AS (
        |  SELECT doc_id,
        |         list_transform(generate_series(0, 15), j ->
        |           list_min(list_transform(shs, sgl ->
        |             (('0x' || substr(md5(sgl), 1, 15))::BIGINT
        |              + j * ('0x' || substr(md5(sgl), 17, 14))::BIGINT)
        |             % 1152921504606846976))) AS sg
        |  FROM shg
        |),
        |b AS (SELECT doc_id, sg, unnest(generate_series(0, 3)) AS band FROM sig),
        |bk AS (
        |  SELECT doc_id, band,
        |         md5(array_to_string(sg[band * 4 + 1 : band * 4 + 4], ',')) AS band_key
        |  FROM b
        |)
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |FROM bk x JOIN bk y
        |  ON x.band = y.band AND x.band_key = y.band_key
        |  AND x.doc_id < y.doc_id""".stripMargin),

    // sketch-driven gate: clip docs outside the [p5 bucket lb, p95
    // bucket ub] length band — the trim-the-tails step, with the bounds
    // COMPUTED by the quantile sketch inside the same plan (broadcast
    // 1-row bounds, no driver round trip)
    "pipeline_length_clip" -> Q((s, dir) => {
      val d = Tables.docs(s, dir)
      val qs = SketchOps.hdrQuantiles(d, col("n_chars"), subBits = 4,
        quantiles = Seq((1, 20), (19, 20)))
      val bounds = qs.agg(
        min(when(col("q") === 0.05, col("est_lb"))).as("lo"),
        max(when(col("q") === 0.95, col("est_ub"))).as("hi"))
      d.crossJoin(broadcast(bounds))
        .where(col("n_chars").between(col("lo"), col("hi")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
    },
      s"""WITH $FlatQuantiles
         |SELECT lang, count(*)::BIGINT AS n_kept,
         |  min(n_chars)::BIGINT AS min_chars,
         |  max(n_chars)::BIGINT AS max_chars
         |FROM documents, bounds
         |WHERE n_chars BETWEEN lo AND hi
         |GROUP BY lang""".stripMargin),

    // The corpus datasheet — the one-row card every dataset
    // release ships (sizes, language/source breadth, length quantiles from
    // the HDR sketch, exact-dup mass).  One plan: three tiny aggregates
    // broadcast-joined; every number integer or bucket-exact, so the card
    // replays hash-exactly.

    "pipeline_corpus_card" -> Q((s, dir) => {
      val d = Tables.docs(s, dir)
      val base = d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"))
      val med = SketchOps.hdrQuantiles(d, col("n_chars"), subBits = 4,
          quantiles = Seq((1, 2)))
        .select(col("est_lb").as("p50_len_lb"), col("est_ub").as("p50_len_ub"))
      val dup = d.groupBy(md5(lower(trim(col("text")))).as("h"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
        .agg(coalesce(count(lit(1)), lit(0L)).as("dup_groups"),
          coalesce(sum(col("n") - 1), lit(0L)).as("dup_docs"))
      base.crossJoin(broadcast(med)).crossJoin(broadcast(dup))
    },
      """WITH h AS (
        |  SELECT (sh::BIGINT * 32 + (v >> sh)) AS bucket_id,
        |    ((v >> sh) << sh)::BIGINT AS lb,
        |    (((v >> sh) << sh) + ((1::BIGINT << sh) - 1))::BIGINT AS ub,
        |    count(*)::BIGINT AS n
        |  FROM (SELECT n_chars::BIGINT AS v,
        |      greatest(0, length(bin(n_chars::BIGINT)) - 1 - 4) AS sh
        |    FROM documents)
        |  GROUP BY 1, 2, 3),
        |c AS (SELECT lb, ub, sum(n) OVER (ORDER BY bucket_id) AS cum,
        |    bucket_id FROM h),
        |t AS (SELECT sum(n)::BIGINT AS n_total FROM h),
        |med AS (
        |  SELECT min(lb)::BIGINT AS p50_len_lb, min(ub)::BIGINT
        |    AS p50_len_ub
        |  FROM c, t WHERE cum >= (n_total + 1) // 2),
        |dup AS (
        |  SELECT coalesce(count(*), 0)::BIGINT AS dup_groups,
        |    coalesce(sum(n - 1), 0)::BIGINT AS dup_docs
        |  FROM (SELECT md5(lower(trim(text))) AS h, count(*)::BIGINT AS n
        |        FROM documents GROUP BY 1) WHERE n > 1),
        |base AS (
        |  SELECT count(*)::BIGINT AS n_docs,
        |    count(DISTINCT lang)::BIGINT AS n_langs,
        |    count(DISTINCT source)::BIGINT AS n_sources,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM documents)
        |SELECT * FROM base, med, dup""".stripMargin),

    // the SFT data-prep pipeline in one plan: quality gate -> exact dedup
    // keep -> whole-document shelf packing of the survivors
    "pipeline_sft_pack" -> Q((s, dir) => {
      val d = Tables.docs(s, dir)
      val gated = TextOps.filterPipeline(d, col("text"), col("doc_id"),
          minTokens = 20L, maxTokens = 1000L, minQuality = 0.5,
          langs = Seq("en", "de", "es", "fr"))
        .select("doc_id")
      val kept = DedupOps.exactDedup(d, col("text"), col("doc_id"))
        .select("doc_id")
      val survivors = d.join(gated, "doc_id").join(kept, "doc_id")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      TextOps.packBinsShelf(survivors, col("n_tokens"), col("doc_id"), 128L)
    },
      {
      val gate = TextQueries.oracle("text_filter_pipeline")
      s"""WITH surv AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x <> ''))::BIGINT AS n_tokens
         |  FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM ($gate))
         |    AND doc_id IN (
         |      SELECT min(doc_id) FROM documents GROUP BY md5(text))),
         |c AS (
         |  SELECT doc_id, n_tokens, (128 // n_tokens)::BIGINT AS size_class
         |  FROM surv),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY size_class ORDER BY doc_id) - 1 AS cr
         |  FROM c)
         |SELECT doc_id, n_tokens, size_class,
         |  (cr // size_class)::BIGINT AS bin_in_class,
         |  (cr % size_class)::BIGINT AS slot
         |FROM r""".stripMargin
    }),

    // The contrastive-curation pipeline in ONE plan: IVF hard negatives →
    // prototype margin (cos to the OWN-label exact centroid minus the
    // hardest negative — the scale-correct margin: one |labels|-sized
    // centroid join instead of all same-label pairs) → curriculum buckets
    // over the margin (largest margin = easiest first).  Every stage is
    // individually oracle-gated; this chains their SQL end to end.
    "pipeline_contrastive" -> Q((s, dir) => {
      val e = Tables.emb(s, dir)
      val hardest = Tables.hardNegIvf32(s, dir)
        .groupBy("query_id").agg(max(col("cos")).as("hneg"))
      val cv = EmbedOps.centroids(e, col("embedding"),
          col("label").cast("long"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(
          struct(col("dim"), col("centroid")))), x => x("centroid"))
          .as("cv"))
      // persisted (lazy): margins feeds curriculumOrder AND the final
      // re-attach join — uncached, the entire margin pipeline (including
      // the IVF hard-negative stage) would run twice
      val margins = graft.core.CacheScope.persist(e
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("label").cast("long").as("label"))
        .join(broadcast(cv), "label")
        .select(col("query_id"),
          round(SimilarityOps.cosine(col("embedding"), col("cv")), 6)
            .as("pcos"))
        .join(hardest, "query_id")
        .select(col("query_id"),
          round(col("pcos") - col("hneg"), 6).as("margin")))
      SplitOps.curriculumOrder(margins, lit(1.0) - col("margin"),
          col("query_id"), nBuckets = 4)
        .join(margins, col("doc_id") === col("query_id"))
        .select(col("query_id"), col("margin"), col("bucket"),
          col("sched_key"))
    },
      // the stages' own SQL chained: hard-negative candidates → hardest per
      // query (max over candidates == max over the top-k) → exact own-label
      // centroid → prototype margin → the curriculum closed form
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv
         |  FROM embeddings WHERE vec_id < 32),
         |asg0 AS (
         |  SELECT e.vec_id AS neighbor_id, e.embedding AS nv,
         |    e.label AS nl, c.centroid_id,
         |    ${SimilarityQueries.cosSql("e.embedding", "c.cv")} AS acos
         |  FROM embeddings e CROSS JOIN c
         |),
         |asg AS (
         |  SELECT neighbor_id, nv, nl, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY neighbor_id
         |      ORDER BY acos DESC, centroid_id) AS rn
         |    FROM asg0) WHERE rn = 1
         |),
         |qp AS (
         |  SELECT neighbor_id AS query_id, nv AS qv, nl AS ql,
         |    centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY neighbor_id
         |      ORDER BY acos DESC, centroid_id) AS rn
         |    FROM asg0) WHERE rn <= 2
         |),
         |s AS (
         |  SELECT qp.query_id, a.neighbor_id,
         |    ${SimilarityQueries.cosSql("qp.qv", "a.nv")} AS cos
         |  FROM asg a JOIN qp ON a.centroid_id = qp.centroid_id
         |  WHERE a.neighbor_id <> qp.query_id AND a.nl <> qp.ql
         |),
         |hn AS (SELECT query_id, max(cos) AS hneg FROM s GROUP BY 1),
         |cx AS (
         |  SELECT label::BIGINT AS label,
         |    unnest(generate_series(1, len(embedding))) AS i,
         |    embedding AS e
         |  FROM embeddings),
         |cm AS (
         |  SELECT label, CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(floor(e[i]::DOUBLE * 1000000.0) AS BIGINT) AS m
         |  FROM cx),
         |ct AS (
         |  SELECT label, dim,
         |    CAST(sum(m) AS DOUBLE) / (count(*)::DOUBLE * 1000000.0)
         |      AS centroid
         |  FROM cm GROUP BY label, dim),
         |cvl AS (SELECT label, list(centroid ORDER BY dim) AS cvv
         |  FROM ct GROUP BY 1),
         |mg AS (
         |  SELECT e.vec_id AS query_id,
         |    round(${SimilarityQueries.cosSql("e.embedding", "cvl.cvv")} - hn.hneg,
         |      6) AS margin
         |  FROM embeddings e
         |  JOIN cvl ON cvl.label = e.label::BIGINT
         |  JOIN hn ON hn.query_id = e.vec_id),
         |n AS (SELECT count(*)::BIGINT AS n FROM mg),
         |rk AS (
         |  SELECT query_id, margin, row_number() OVER (
         |    ORDER BY 1.0 - margin, query_id) - 1 AS rk
         |  FROM mg),
         |bk AS (
         |  SELECT query_id, margin,
         |    (rk * 4 // (SELECT n FROM n))::BIGINT AS bucket, rk
         |  FROM rk)
         |SELECT query_id, margin, bucket,
         |  ((rk - (bucket * (SELECT n FROM n) + 3) // 4) * 4 + bucket)::BIGINT
         |    AS sched_key
         |FROM bk""".stripMargin),

    "pipe_video_dedup" -> Q((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val lake = LakeQueries.runTmp + "/pvd_lake_" + tag
      val idx = LakeQueries.runTmp + "/pvd_idx_" + tag
      val ckp = LakeQueries.runTmp + "/pvd_ckp_" + tag
      val cand = LakeQueries.runTmp + "/pvd_cand_" + tag
      if (LayoutOps.latestVersion(s, lake) < 0) {
        val d = Tables.docs(s, dir).select(col("doc_id"), col("text"))
        (0 until 3).foreach { k =>
          LayoutOps.commitAppend(d.where(col("doc_id") % 3 === k), lake)
          LayoutOps.lakeTail(s, lake, ckp) { (delta, _) =>
            // decode ONLY the delta's frames; the persisted index
            // carries every earlier shard's hashes
            val fr = MediaQueries.y4mFrameHashes(delta).persist()
            graft.core.CacheScope.register(fr)
            val seeded = new java.io.File(idx.stripPrefix("file:")).exists
            val pairs =
              if (!seeded) framePairsWithin(fr)
              else framePairsAcross(s.read.parquet(idx), fr)
                .unionByName(framePairsWithin(fr))
            pairs.write.mode("append").parquet(cand)
            fr.write.mode("append").parquet(idx)
          }
        }
      }
      s.read.parquet(cand).distinct()
    },
      // the staged incremental union must equal the FULL-corpus
      // frame-dedup pairs — the same all-pairs SQL as mm_y4m_frame_dedup
      """WITH fda AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |fdf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM fda),
        |fdv AS (
        |  SELECT doc_id, frame,
        |    list_transform(generate_series(0, 63), j ->
        |      ascii(substr(text,
        |        (((j + 29 * frame) % length(text)) + 1)::INT, 1))) AS v
        |  FROM fdf)
        |SELECT x.doc_id AS doc_a, x.frame::BIGINT AS frame_a,
        |  y.doc_id AS doc_b, y.frame::BIGINT AS frame_b
        |FROM fdv x JOIN fdv y
        |  ON x.v = y.v AND (x.doc_id < y.doc_id OR
        |    (x.doc_id = y.doc_id AND x.frame < y.frame))""".stripMargin),

    // the r19 video-ingest loop + the r20 INDEX RETENTION policy: each
    // catch-up appends the delta's frame hashes and then lets
    // PersistedIndex.maybeCompact rewrite the fragmented index (each
    // append lands up to shuffle-partitions part files; a year of
    // catch-ups otherwise leaves thousands) — and the staged pair union
    // must STILL equal the full-corpus oracle, proving compaction
    // changes layout only, never candidates
    "pipe_video_dedup_compact" -> Q((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val lake = LakeQueries.runTmp + "/pvdc_lake_" + tag
      val idx = LakeQueries.runTmp + "/pvdc_idx_" + tag
      val ckp = LakeQueries.runTmp + "/pvdc_ckp_" + tag
      val cand = LakeQueries.runTmp + "/pvdc_cand_" + tag
      if (graft.ops.LayoutOps.latestVersion(s, lake) < 0) {
        val d = Tables.docs(s, dir).select(col("doc_id"), col("text"))
        (0 until 3).foreach { k =>
          graft.ops.LayoutOps.commitAppend(d.where(col("doc_id") % 3 === k),
            lake)
          graft.ops.LayoutOps.lakeTail(s, lake, ckp) { (delta, _) =>
            val fr = MediaQueries.y4mFrameHashes(delta).persist()
            graft.core.CacheScope.register(fr)
            val seeded = new java.io.File(idx.stripPrefix("file:")).exists
            val pairs =
              if (!seeded) framePairsWithin(fr)
              else framePairsAcross(s.read.parquet(idx), fr)
                .unionByName(framePairsWithin(fr))
            pairs.write.mode("append").parquet(cand)
            fr.write.mode("append").parquet(idx)
            // retention: maxFiles 8 forces a rewrite on every catch-up
            // at the 32-partition test shape — the compacted index is
            // what the NEXT catch-up joins against
            graft.ops.PersistedIndex.maybeCompact(s, idx, maxFiles = 8,
              targetFiles = 4)
          }
        }
      }
      s.read.parquet(cand).distinct()
    },
      // compaction must be invisible to candidates: the same full-corpus
      // all-pairs SQL as pipe_video_dedup
      """WITH pca AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |pcf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM pca),
        |pcv AS (
        |  SELECT doc_id, frame,
        |    list_transform(generate_series(0, 63), j ->
        |      ascii(substr(text,
        |        (((j + 29 * frame) % length(text)) + 1)::INT, 1))) AS v
        |  FROM pcf)
        |SELECT x.doc_id AS doc_a, x.frame::BIGINT AS frame_a,
        |  y.doc_id AS doc_b, y.frame::BIGINT AS frame_b
        |FROM pcv x JOIN pcv y
        |  ON x.v = y.v AND (x.doc_id < y.doc_id OR
        |    (x.doc_id = y.doc_id AND x.frame < y.frame))""".stripMargin)
  )
}
