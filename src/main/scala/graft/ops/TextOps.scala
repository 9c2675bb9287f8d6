package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language-ID heuristic, quality scoring, document
  * fingerprinting.  All are PER-ROW column expressions (no UDFs, no
  * shuffles): they run inside whole-stage codegen and scale linearly with
  * the scan — the only shuffle in any text pipeline built from these is the
  * one the caller adds (e.g. a groupBy for corpus stats).
  *
  * Every function is deterministic (no rand()) and mirrors to ANSI SQL for
  * the oracle-checked queries.
  */
object TextOps {

  /** Lowercased whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= lit(""))

  /** Token count on a BPE-ish lexer regex: words / digit runs / single
    * punctuation, the cheap stand-in for subword token estimation. */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Word k-shingles joined by single spaces; a document shorter than k
    * tokens yields one shingle = the whole token string. */
  def wordShingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array(concat_ws(" ", toks)))

  /** Document fingerprint: minimum md5 over word-5-shingles (a MinHash with
    * a single hash function — the rolling-hash fingerprint analogue).
    *
    * One-pass JVM kernel: the column-expression form
    * (`array_min(transform(wordShingles(...), md5))`) materialized the full
    * shingle array plus one 32-char hex string per shingle through
    * interpreted higher-order functions — measured 3.4 s at sf0.1 vs
    * ~0.3 s for this kernel.  The min runs over raw digests (unsigned byte
    * compare == hex-string lexicographic compare, since hex encoding is
    * byte-order-preserving), hex-encoded once at the end — identical output
    * to the expression form and the SQL oracle. */
  def fingerprint(text: Column): Column = {
    val f = udf { (t: String) =>
      if (t == null) null
      else {
        val shingles = DedupOps.shinglesOf(t, 5)
        val md = java.security.MessageDigest.getInstance("MD5")
        var min: Array[Byte] = null
        shingles.foreach { s =>
          val d = md.digest(s.getBytes("UTF-8"))
          if (min == null || {
            var i = 0
            var c = 0
            while (i < 16 && c == 0) {
              c = java.lang.Integer.compare(d(i) & 0xff, min(i) & 0xff); i += 1
            }
            c < 0
          }) min = d
        }
        val hex = new java.lang.StringBuilder(32)
        var i = 0
        while (i < 16) {
          hex.append(Character.forDigit((min(i) >> 4) & 0xf, 16))
          hex.append(Character.forDigit(min(i) & 0xf, 16))
          i += 1
        }
        hex.toString
      }
    }
    f(text)
  }

  private val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "los", "las", "una", "que", "por"),
    "fr" -> Seq("le", "les", "des", "est", "dans", "pour"),
    "en" -> Seq("the", "and", "of", "is", "to", "in"))

  private lazy val StopSet = Stopwords.toSet
  private lazy val MarkerSets: Array[Set[String]] =
    Markers.map(_._2.toSet).toArray

  /** One-pass per-document feature walk shared by [[qualityFeatures]] and
    * [[langId]]: tokenize ONCE and return
    * [n_tokens, punct_cnt, char_sum, stop_hits, de, es, fr, en] as exact
    * integers (all float math stays in native codegen'd expressions above,
    * preserving the oracle's IEEE operation order bit-for-bit).  Same
    * kernel-over-interpreted-HOF rationale as [[gateKernel]]. */
  private def featureKernel: String => Array[Long] = { text =>
    if (text == null) null
    else {
      val toks = Ws.split(text.toLowerCase(java.util.Locale.ROOT), -1)
        .filter(_.nonEmpty)
      var punct = 0L
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (c == '.' || c == ',' || c == '!' || c == '?' || c == ';' ||
          c == ':') punct += 1
        i += 1
      }
      var charSum = 0L
      var stop = 0L
      val hits = new Array[Long](MarkerSets.length)
      toks.foreach { tk =>
        // codePointCount mirrors Spark's length() (codepoints, not chars)
        charSum += tk.codePointCount(0, tk.length)
        if (StopSet(tk)) stop += 1
        var m = 0
        while (m < MarkerSets.length) {
          if (MarkerSets(m)(tk)) hits(m) += 1
          m += 1
        }
      }
      Array(toks.length.toLong, punct, charSum, stop,
        hits(0), hits(1), hits(2), hits(3))
    }
  }

  /** Heuristic language ID: marker-token hit counts per language, strict
    * argmax in fixed precedence order (de, es, fr), default "en".  The SQL
    * mirror uses the same CASE precedence, so prediction is deterministic
    * even on marker-free text.  One kernel pass per row (the expression
    * form walked the interpreted tokens() tree once per marker set).
    *
    * Null contract: null text → null prediction (null-in/null-out), mirrored
    * by an explicit IS NULL guard in the oracle SQL — a plain CASE chain
    * would silently fall through to 'en' on null inputs. */
  def langId(text: Column): Column = {
    val f = udf { (t: String) =>
      if (t == null) null
      else {
        val fts = featureKernel(t)
        val de = fts(4); val es = fts(5); val fr = fts(6); val en = fts(7)
        if (de > en && de > es && de > fr) "de"
        else if (es > en && es > fr) "es"
        else if (fr > en) "fr"
        else "en"
      }
    }
    f(text)
  }

  private val Stopwords =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "for", "on")

  /** Corpus vocabulary: top-`k` tokens by frequency, rank-ordered with a
    * token tiebreak.  One explode + one hash aggregate with map-side
    * combine — the shuffle carries at most |vocab| rows per task, never the
    * token stream — then a driver-sized top-k (TakeOrdered, no global
    * sort).  The vocabulary-building pass of any tokenizer training /
    * coverage audit. */
  def vocabTopK(df: DataFrame, text: Column, k: Int): DataFrame = {
    // explode the RAW split and drop empties with a plain predicate instead
    // of exploding tokens() — the higher-order filter() is interpreted per
    // element, while split+explode+where stays inside whole-stage codegen
    val counts = df.select(explode(split(lower(text), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    // top-k by (cnt desc, token): orderBy+limit+collect compiles to
    // TakeOrdered — ≤ k rows ever reach the driver.  The rank is assigned on
    // the collected rows instead of a partition-less window: Spark's
    // optimizer strips any constant partition key, so such a window would
    // log WindowExec's single-partition warning on every run, masking a
    // REAL data-wide single-partition window introduced later.
    val top = counts.orderBy(col("cnt").desc, col("token")).limit(k).collect()
    val spark = df.sparkSession
    import spark.implicits._
    spark.createDataset(top.toSeq.zipWithIndex.map { case (r, i) =>
      (r.getString(0), r.getLong(1), i.toLong)
    }).toDF("token", "cnt", "rank")
  }

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** One-pass JVM kernel for the quality gate: tokenizes ONCE and derives
    * every feature (token count, punctuation count, stopword and language-
    * marker hits) from that single walk, then applies the gate inline and
    * returns either one (lang_pred, n_tokens, quality) record or none.
    * Float arithmetic and round(…, 6) reproduce the column-expression
    * formulation bit-for-bit (same operation order; HALF_UP BigDecimal
    * round, which is what Spark's `round` does on doubles), so the SQL
    * oracle is unchanged.
    *
    * Why a kernel and not column expressions: the expression form built the
    * interpreted higher-order `filter(split(...))` tree once per feature and
    * Catalyst's projection collapse folded the gate predicates back into the
    * projection — ~10 tokenizations per row, measured 16.4 s at sf0.1 vs
    * 0.20 s for the sibling single-projection query.  Same anti-pattern and
    * same fix as the MinHash signature kernel ([[DedupOps]]). */
  private def gateKernel(minTokens: Long, maxTokens: Long, minQuality: Double,
      langs: Seq[String]): (String => Array[Long]) = {
    // the kernel's precedence chain below is written against exactly this
    // language list/order — fail loudly at build, not per-row, if Markers
    // ever changes shape
    require(Markers.map(_._1) == Seq("de", "es", "fr", "en"),
      "gateKernel's precedence chain is coupled to Markers order (de,es,fr,en)")
    val langSet = langs.toSet
    val stop = Stopwords.toSet
    val markerSets: Array[(String, Set[String])] =
      Markers.map { case (l, s) => l -> s.toSet }.toArray
    (text: String) => {
      if (text == null) Array.emptyLongArray
      else {
        val toks = Ws.split(text.toLowerCase(java.util.Locale.ROOT), -1)
          .filter(_.nonEmpty)
        val n = toks.length
        var punct = 0
        var i = 0
        while (i < text.length) {
          val c = text.charAt(i)
          if (c == '.' || c == ',' || c == '!' || c == '?' || c == ';' ||
            c == ':') punct += 1
          i += 1
        }
        var stopHits = 0
        val hits = new Array[Int](markerSets.length)
        toks.foreach { tk =>
          if (stop(tk)) stopHits += 1
          var m = 0
          while (m < markerSets.length) {
            if (markerSets(m)._2(tk)) hits(m) += 1
            m += 1
          }
        }
        // precedence mirrors langId(); indices follow Markers order,
        // asserted at kernel build (see gateKernel's require)
        val de = hits(0); val es = hits(1); val fr = hits(2); val en = hits(3)
        val lang =
          if (de > en && de > es && de > fr) 0
          else if (es > en && es > fr) 1
          else if (fr > en) 2
          else 3
        val nd = math.max(n, 1).toDouble
        val q = 0.4 * math.min(1.0, n / 200.0) +
          0.3 * (1.0 - math.min(1.0, punct / nd)) +
          0.3 * math.min(1.0, (stopHits / nd) * 5.0)
        val quality = java.math.BigDecimal.valueOf(q)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        // quality has 6 decimals in [0,1] → quality*1e6 is an integer in
        // [0, 1e6]; pack (lang | n_tokens | quality_micros) into one long
        // (2 + 30 + 20 bits).  n is bounded by text length, but a
        // pathological ~2^31-char document of 1-char tokens could reach the
        // 30-bit field — fail loudly instead of corrupting the packed long.
        require(n < (1 << 30), s"document of $n tokens overflows the packed field")
        val qMicros = math.rint(quality * 1e6).toLong
        if (n >= minTokens && n <= maxTokens && quality >= minQuality &&
          langSet(LangNames(lang)))
          Array((lang.toLong << 50) | (n.toLong << 20) | qMicros)
        else Array.emptyLongArray
      }
    }
  }

  /** Index→code table for the packed lang field of [[gateKernel]] —
    * derived from [[Markers]] so the two cannot drift. */
  private val LangNames: Array[String] = Markers.map(_._1).toArray

  /** One-pass C4/Gopher-style quality gate: per-document features + language
    * prediction + the gate itself computed in a single per-row kernel pass
    * (see [[gateKernel]]), surfaced through a 0/1-element generator so the
    * kernel is evaluated exactly once per row — no shuffle, scales linearly
    * with the scan.  Returns the surviving documents with their diagnostics
    * (the columns a curation pipeline logs before the expensive model-based
    * stages). */
  def filterPipeline(df: DataFrame, text: Column, idCol: Column,
      minTokens: Long, maxTokens: Long, minQuality: Double,
      langs: Seq[String]): DataFrame =
    gateProjection(DedupOps.parallelized(df), text, idCol,
      minTokens, maxTokens, minQuality, langs)

  /** The gate kernel + decode projection of [[filterPipeline]], without
    * the batch-only repartition probe — shared with the streaming form
    * ([[graft.streaming.StreamingOps.qualityGateStream]]): the gate is
    * stateless per-row, so stream and batch are the same plan per
    * micro-batch. */
  private[graft] def gateProjection(df: DataFrame, text: Column,
      idCol: Column, minTokens: Long, maxTokens: Long, minQuality: Double,
      langs: Seq[String]): DataFrame = {
    val f = udf(gateKernel(minTokens, maxTokens, minQuality, langs))
    // The kernel returns a 0/1-element packed-long array (primitive
    // encoder — a fraction of the generated-code/JIT footprint of a
    // struct encoder); fields are decoded with native integer expressions
    // ABOVE the Generate, where projection collapse cannot reach the UDF.
    val packed = col("g")
    val langIdx = shiftright(packed, 50).cast("int")
    val quality = packed.bitwiseAND(lit((1L << 20) - 1)).cast("double") / 1e6
    df.select(idCol.as("doc_id"), explode(f(text)).as("g"))
      .select(col("doc_id"),
        element_at(typedLit(LangNames.toSeq), langIdx + 1).as("lang_pred"),
        shiftright(packed, 20).bitwiseAND(lit((1L << 30) - 1)).as("n_tokens"),
        quality.as("quality"))
  }

  /** Corpus-frequency fluency score — the LM-free stand-in for CCNet's
    * perplexity filter: per document, the mean and minimum CORPUS occurrence
    * count of its tokens.  Junk/OOV-heavy documents have low minima and
    * means; boilerplate has inflated means.  All-integer aggregates until
    * one final division (order-independent, oracle-exact — no `ln` whose
    * last-ulp behavior differs across engines).
    *
    * Physical shape: one token explode feeding both the corpus frequency
    * table (hash agg with map-side combine — the shuffle carries ≤ |vocab|
    * rows per task) and the per-document join+agg; the frequency side is
    * vocab-sized, so AQE broadcasts it at any realistic corpus.  Documents
    * with no tokens (empty/null text) produce no row. */
  def tokenFrequencyScore(df: DataFrame, text: Column, idCol: Column): DataFrame = {
    val toks = graft.core.CacheScope.persist(
      DedupOps.parallelized(df)
        .select(idCol.as("doc_id"),
          explode(split(lower(text), "\\s+")).as("token"))
        .where(col("token") =!= ""),
      eager = false)
    val freq = toks.groupBy("token").agg(count(lit(1)).as("tf"))
    toks.join(freq, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("tf").as("__s"),
        min("tf").as("min_token_freq"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("__s").cast("double") / col("n_tokens").cast("double"), 6)
          .as("mean_token_freq"),
        col("min_token_freq"))
  }

  /** WITHIN-document repetition features — the Gopher-style repetition
    * filters (Rae et al. 2021 §A1.1: documents dominated by repeated lines
    * or n-grams are machine-generated boilerplate): per document,
    *
    *  - `n_tokens`, `n_paras`
    *  - `dup_para_frac`  = (n_paras − distinct paras) / n_paras — repeated
    *    spans INSIDE one document (the corpus-wide analogue is
    *    [[DedupOps.paragraphExact]])
    *  - `top_bigram_frac` = 2·count(most frequent token bigram) / n_tokens
    *    — coverage of the dominant 2-gram
    *
    * One kernel pass per row behind the usual Generate barrier (integer
    * outputs; the float ratios are native expressions above it, matching
    * the oracle's IEEE order).  Paragraphs split on `sepRegex`, trimmed,
    * empties dropped — same normalization as [[DedupOps.paragraphs]].
    * Null text → null features. */
  def repetitionFeatures(df: DataFrame, text: Column, idCol: Column,
      sepRegex: String = "\\n{2,}"): DataFrame = {
    val sep = java.util.regex.Pattern.compile(sepRegex)
    val kernel = udf { (t: String) =>
      if (t == null) null
      else {
        val toks = Ws.split(t.toLowerCase(java.util.Locale.ROOT), -1)
          .filter(_.nonEmpty)
        var maxBg = 0L
        if (toks.length >= 2) {
          val counts = new java.util.HashMap[String, Long]()
          var i = 0
          while (i < toks.length - 1) {
            val c = counts.merge(toks(i) + " " + toks(i + 1), 1L,
              java.lang.Long.sum)
            if (c > maxBg) maxBg = c
            i += 1
          }
        }
        val paras = sep.split(t, -1).map(_.trim).filter(_.nonEmpty)
        val distinctParas = paras.distinct.length.toLong
        Array(toks.length.toLong, maxBg, paras.length.toLong, distinctParas)
      }
    }
    val g = col("g")
    val n = element_at(g, 1)
    val maxBg = element_at(g, 2)
    val nP = element_at(g, 3)
    val dP = element_at(g, 4)
    DedupOps.parallelized(df)
      .select(idCol.as("doc_id"), explode(array(kernel(text))).as("g"))
      .select(
        col("doc_id"),
        n.as("n_tokens"),
        nP.as("n_paras"),
        round((nP - dP).cast("double") / greatest(nP, lit(1L)).cast("double"),
          6).as("dup_para_frac"),
        round(lit(2.0) * maxBg.cast("double") /
          greatest(n, lit(1L)).cast("double"), 6).as("top_bigram_frac"))
  }

  /** CCNet-style quality tiers: rank the corpus by quality (desc, id
    * tiebreak) and split into `tiers` equal-size buckets — tier 0 is the
    * CCNet "head", the slice kept for training; the tail is dropped or
    * down-weighted.  EXACT corpus-wide quantiles via the distributed
    * two-phase rank ([[graft.core.Ranker]]) — no single-partition window,
    * no approxQuantile nondeterminism; `tier = rank·tiers / n` in exact
    * integer arithmetic. */
  def qualityTiers(df: DataFrame, text: Column, idCol: Column,
      tiers: Int = 3): DataFrame = {
    require(tiers > 0)
    val q = graft.core.CacheScope.persist(
      qualityFeatures(df, text, idCol).select(col("doc_id"), col("quality")),
      eager = false)
    val n = q.count()
    // integer `div`, not `/`: double division + cast could misplace a
    // boundary rank; the oracle mirrors with `//`
    graft.core.Ranker.withRank(q, "__qr", col("quality").desc, col("doc_id"))
      .select(col("doc_id"), col("quality"),
        expr(s"(__qr * $tiers) div ${math.max(n, 1L)}").as("tier"))
  }

  /** Sequence-packing plan under a fixed token budget: documents are
    * concatenated in id order and chunked every `budget` tokens (the
    * concat-and-chunk packing every LLM pretraining pipeline runs).  Output
    * per document: (doc_id, n_tokens, pack_id, pack_offset,
    * spans_boundary) — which fixed-size pack the document starts in, where,
    * and whether it crosses into the next one.
    *
    * Physical shape: one range-partitioned rank + the two-phase integer
    * cumsum ([[graft.core.Ranker]]) — no single-partition window, no driver
    * token array, so the plan is the same at 100 TB.  pack_id uses a double
    * division (exact while the corpus token count < 2^53 ≈ 9·10^15 — three
    * orders of magnitude past a 100 TB corpus). */
  def packPlan(df: DataFrame, text: Column, idCol: Column,
      budget: Long): DataFrame =
    packPlanCounts(df, size(tokens(text)), idCol, budget)

  /** Quality features + a composite score in [0,1] (length, punctuation
    * density, stopword density — the usual cheap pre-filters before
    * expensive model-based scoring).  One [[featureKernel]] pass behind a
    * single-element Generate barrier (so projection collapse cannot
    * re-evaluate it); the float math is native codegen'd expressions with
    * the exact operation order of the SQL oracle.
    *
    * Null contract: null text → every feature null (null-in/null-out).  The
    * quality composite needs an explicit guard because Spark's
    * `least`/`greatest` SKIP null operands — without it a null row would
    * score a spurious 0.7; the oracle SQL carries the same IS NULL guard. */
  def qualityFeatures(df: DataFrame, text: Column, idCol: Column): DataFrame = {
    val g = col("g")
    val n = element_at(g, 1)
    val punct = element_at(g, 2)
    val charSum = element_at(g, 3)
    val stop = element_at(g, 4)
    val nG = greatest(n, lit(1L)).cast("double")
    kernelFrame(DedupOps.parallelized(df), text, idCol)
      .select(
        col("doc_id"),
        n.as("n_tokens"),
        punct.as("punct_cnt"),
        round(charSum.cast("double") / nG, 6).as("avg_token_len"),
        round(stop.cast("double") / nG, 6).as("stop_ratio"),
        qualityExpr.as("quality"))
  }

  /** (doc_id[, carried cols], g = packed feature array) — the shared
    * Generate-barrier kernel pass under [[qualityFeatures]] and
    * [[qualityTiersBy]]. */
  private def kernelFrame(df: DataFrame, text: Column, idCol: Column,
      carry: (String, Column)* ): DataFrame = {
    val f = udf(featureKernel)
    df.select(idCol.as("doc_id") +: carry.map { case (nm, c) => c.as(nm) } :+
      explode(array(f(text))).as("g"): _*)
  }

  /** The composite quality score decoded from the packed `g` column —
    * exact operation order of the SQL oracle (see qualityFeatures). */
  private def qualityExpr: Column = {
    val g = col("g")
    val n = element_at(g, 1)
    val punct = element_at(g, 2)
    val stop = element_at(g, 4)
    val nG = greatest(n, lit(1L)).cast("double")
    when(n.isNotNull, round(
      lit(0.4) * least(lit(1.0), n.cast("double") / lit(200.0)) +
      lit(0.3) * (lit(1.0) - least(lit(1.0), punct.cast("double") / nG)) +
      lit(0.3) * least(lit(1.0), (stop.cast("double") / nG) * lit(5.0)),
      6))
  }

  /** PER-CLASS quality tiers — CCNet's actual recipe: percentile
    * boundaries computed WITHIN each language/domain, so one verbose or
    * high-scoring class cannot absorb the whole corpus head.  Rank and
    * count windows partition on the class — a REAL partition key (unlike
    * the stripped constant-key windows, see vocabTopK), and exactly the
    * shuffle a per-language pipeline wants; `tier = rank·tiers / n_class`
    * in exact integer arithmetic as in [[qualityTiers]]. */
  def qualityTiersBy(df: DataFrame, text: Column, idCol: Column,
      classCol: Column, tiers: Int = 3): DataFrame = {
    require(tiers > 0)
    import org.apache.spark.sql.expressions.Window
    val q = kernelFrame(DedupOps.parallelized(df), text, idCol,
      "cls" -> classCol)
      .select(col("doc_id"), col("cls"), qualityExpr.as("quality"))
    val w = Window.partitionBy("cls").orderBy(col("quality").desc,
      col("doc_id"))
    q.withColumn("__r", row_number().over(w) - 1)
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("cls")))
      .select(col("doc_id"), col("cls"), col("quality"),
        expr(s"(__r * $tiers) div __n").as("tier"))
  }

  private val WsPat = java.util.regex.Pattern.compile("\\s+")

  /** Greedy BPE over one word: repeatedly merge the LOWEST-rank adjacent
    * token pair (leftmost on rank ties), one merge per step, until no
    * adjacent pair is in the table.  One-pair-at-a-time with the leftmost
    * rule produces the same final segmentation as the usual
    * all-occurrences-per-chosen-pair formulation (merging the leftmost
    * occurrence never changes the rank of occurrences to its right), and —
    * unlike that formulation — it is directly replayable as a SQL
    * recursion, which is what the oracle does.  O(len²) per word; real
    * vocab sizes keep words short enough that the simple scan beats a heap
    * on constant factors. */
  /** Initial BPE symbols: CODE POINTS, not chars — a charAt split would
    * break a supplementary character (emoji etc.) into lone surrogates,
    * which Spark's UTF8String conversion replaces with '?' — silently
    * corrupting the distributed trainer's pair table while the local
    * trainer kept the real chars (divergence).  Whole code points always
    * round-trip UTF-8, so both training regimes and the tokenizer agree. */
  private def codePointSplit(word: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      out += word.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  private def bpeWord(word: String,
      rank: java.util.HashMap[String, Int]): Array[String] = {
    var toks = codePointSplit(word)
    var done = toks.length <= 1
    while (!done) {
      var best = Int.MaxValue; var bp = -1
      var i = 0
      while (i < toks.length - 1) {
        val r = rank.getOrDefault(toks(i) + "\t" + toks(i + 1), Int.MaxValue)
        if (r < best) { best = r; bp = i }
        i += 1
      }
      if (bp < 0) done = true
      else {
        val nt = new Array[String](toks.length - 1)
        System.arraycopy(toks, 0, nt, 0, bp)
        nt(bp) = toks(bp) + toks(bp + 1)
        System.arraycopy(toks, bp + 2, nt, bp + 1, toks.length - bp - 2)
        toks = nt
        done = toks.length <= 1
      }
    }
    toks
  }

  private def rankMapOf(merges: Seq[(String, String)]) = {
    val m = new java.util.HashMap[String, Int]()
    merges.zipWithIndex.foreach { case ((l, r), i) => m.put(l + "\t" + r, i) }
    m
  }

  /** Subword tokenization: greedy BPE ([[bpeWord]]) applied per
    * whitespace word of the lowercased text under a caller-supplied
    * ordered merge table (earlier = higher priority — the ordering a BPE
    * trainer emits).  Output: (doc_id, tokens), tokens flattened across
    * words in document order.  The merge table is broadcast; the kernel is
    * a narrow per-row map — no shuffle, linear in the scan.
    *
    * This replaces [[bpeishCount]]'s regex estimate wherever real subword
    * budgets matter: `bpeTokens(...).select(size($"tokens"))` feeds
    * [[packPlanCounts]] for sequence packing on true token counts. */
  def bpeTokens(df: DataFrame, text: Column, idCol: Column,
      merges: Seq[(String, String)]): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(rankMapOf(merges))
    val f = udf { (t: String) =>
      if (t == null) Array.empty[String]
      else WsPat.split(t.toLowerCase(java.util.Locale.ROOT)).iterator
        .filter(_.nonEmpty).flatMap(w => bpeWord(w, bc.value)).toArray
    }
    DedupOps.parallelized(df)
      .select(idCol.as("doc_id"), f(text).as("tokens"))
  }

  /** Train a BPE merge table over the corpus: `numMerges` rounds of
    * "count adjacent token pairs, merge the most frequent" (ties broken
    * lexicographically in UTF-8 byte order — fully deterministic, no
    * rand()).
    *
    * Physical shape — dual-plan gated, the engine's standard discipline:
    * ONE corpus-wide shuffle builds the (word, cnt) frequency table (the
    * vocabulary is orders of magnitude smaller than 100 TB of text).
    * While that table fits the driver (`maxDriverWords`, the common case
    * at any corpus size — vocabulary grows ~Heaps-law, not with the
    * corpus), the merge loop runs LOCALLY with incremental pair-count
    * updates (Sennrich, Haddow & Birch 2016, "Neural Machine Translation
    * of Rare Words with Subword Units" — learn_bpe's update trick): a
    * merge re-counts only the words that CONTAIN the merged pair, and
    * the argmax pops from a lazy-invalidation heap — a 32 k-merge
    * production vocabulary trains in seconds instead of 32 000
    * sequential Spark jobs (~3 scheduler round-trips each, hours of
    * overhead for milliseconds of work).  Beyond the gate the previous
    * distributed loop takes over: one pair-explode + weighted count +
    * 1-row argmax per round over the cached word table, re-tokenizing
    * under the merges so far — never a corpus pass either way.
    * R15BpeSpec proves local == distributed merge-for-merge. */
  def bpeTrain(df: DataFrame, text: Column, numMerges: Int,
      maxDriverWords: Long = 2000000L): Seq[(String, String)] = {
    require(numMerges >= 0)
    val spark = df.sparkSession
    val words = graft.core.CacheScope.persist(
      df.select(explode(tokens(text)).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt")),
      eager = false)
    if (words.count() <= maxDriverWords) {
      import spark.implicits._
      return bpeTrainLocal(
        words.as[(String, Long)].collect(), numMerges)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val bc = spark.sparkContext.broadcast(rankMapOf(merges.toSeq))
      val pairsOf = udf { (w: String) =>
        val t = bpeWord(w, bc.value)
        Array.tabulate(math.max(t.length - 1, 0))(i => (t(i), t(i + 1)))
      }
      val top = words
        .select(explode(pairsOf(col("w"))).as("p"), col("cnt"))
        .groupBy(col("p._1").as("l"), col("p._2").as("r"))
        .agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else merges += ((top(0).getString(0), top(0).getString(1)))
    }
    merges.toSeq
  }

  /** UTF-8 binary string comparison — Spark's (and DuckDB's) string sort
    * order, which Java's UTF-16 `compareTo` does NOT match for
    * supplementary characters.  The local merge loop must break count
    * ties exactly like the distributed `orderBy(c desc, l, r)`. */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Driver-side BPE merge loop over the collected word-frequency table.
    * Semantics identical to the distributed loop: per round, the
    * (count DESC, l, r) argmax over the adjacent-pair counts of the
    * current tokenization, applied leftmost-first per word (the
    * [[bpeWord]] order).  Incremental: a round touches only the words
    * holding the merged pair (tracked by an inverted index), re-diffing
    * each touched word's pair multiset; candidates live in a heap with
    * lazy invalidation (an entry is valid only if its count still
    * matches the live table).  A trained table can never make a merge
    * create a pair of EARLIER rank (pair sides only exist once their own
    * merges ran), so applying just the new merge per round reproduces
    * [[bpeWord]]'s full re-tokenization. */
  private def bpeTrainLocal(wordCnt: Array[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val n = wordCnt.length
    val syms = new Array[mutable.ArrayBuffer[String]](n)
    val cnts = new Array[Long](n)
    var i = 0
    while (i < n) {
      // code-point split, matching bpeWord's initial symbols exactly
      syms(i) = mutable.ArrayBuffer.from(codePointSplit(wordCnt(i)._1))
      cnts(i) = wordCnt(i)._2
      i += 1
    }
    val stats = mutable.HashMap.empty[(String, String), Long]
    val wordsOf = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def pairsOf(s: mutable.ArrayBuffer[String]): Iterator[(String, String)] =
      if (s.length < 2) Iterator.empty
      else (0 until s.length - 1).iterator.map(j => (s(j), s(j + 1)))
    i = 0
    while (i < n) {
      val c = cnts(i)
      pairsOf(syms(i)).foreach { p =>
        stats.update(p, stats.getOrElse(p, 0L) + c)
        wordsOf.getOrElseUpdate(p, mutable.HashSet.empty) += i
      }
      i += 1
    }
    // max-heap on (count, then UTF-8-ascending (l, r)); stale entries are
    // skipped on pop when their count no longer matches `stats`
    val ord = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c
        else {
          val l = utf8Compare(y._2, x._2) // reversed: smaller l = higher
          if (l != 0) l else utf8Compare(y._3, x._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    stats.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    while (merges.length < numMerges && heap.nonEmpty) {
      val (c, l, r) = heap.dequeue()
      if (c > 0 && stats.getOrElse((l, r), 0L) == c) {
        merges += ((l, r))
        val p = (l, r)
        val lr = l + r
        val touched = wordsOf.getOrElse(p, mutable.HashSet.empty).toArray
        stats.remove(p); wordsOf.remove(p)
        val delta = mutable.HashMap.empty[(String, String), Long]
        touched.foreach { wi =>
          val s = syms(wi)
          val wc = cnts(wi)
          pairsOf(s).foreach(q => delta.update(q, delta.getOrElse(q, 0L) - wc))
          // leftmost-first application, continuing past each replacement
          // (a replacement cannot create another (l, r) at or before it)
          var j = 0
          while (j < s.length - 1) {
            if (s(j) == l && s(j + 1) == r) {
              s(j) = lr; s.remove(j + 1)
            } else j += 1
          }
          pairsOf(s).foreach { q =>
            delta.update(q, delta.getOrElse(q, 0L) + wc)
            wordsOf.getOrElseUpdate(q, mutable.HashSet.empty) += wi
          }
        }
        delta.foreach { case (q, d) =>
          if (d != 0 && q != p) {
            val nc = stats.getOrElse(q, 0L) + d
            if (nc <= 0) stats.remove(q)
            else { stats.update(q, nc); heap.enqueue((nc, q._1, q._2)) }
          }
        }
      }
    }
    merges.toSeq
  }

  /** [[packPlan]] on caller-supplied token counts (e.g. real BPE counts
    * from [[bpeTokens]]) instead of the whitespace tokenizer. */
  def packPlanCounts(df: DataFrame, nTokens: Column, idCol: Column,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val base = df.select(idCol.as("doc_id"), nTokens.cast("long").as("n_tokens"))
    val ranked = graft.core.Ranker.withRank(base, "__r", col("doc_id"))
    val (cum, _) = graft.core.Ranker.withCumsumLongAndTotal(
      ranked, "__r", col("n_tokens"), "__cum")
    cum
      .withColumn("__start", col("__cum") - col("n_tokens"))
      .withColumn("pack_id", floor(col("__start") / lit(budget)).cast("long"))
      .withColumn("pack_offset", col("__start") - col("pack_id") * budget)
      .withColumn("spans_boundary",
        col("pack_offset") + col("n_tokens") > budget)
      .select("doc_id", "n_tokens", "pack_id", "pack_offset", "spans_boundary")
  }

  /** Boundary-respecting sequence packing, shelf (size-class) variant —
    * the truncation-free packing used for SFT / instruction-tuning data,
    * where documents must land WHOLE inside a context window (Ding et al.
    * 2024, "Fewer Truncations Improve Language Modeling").  Each document
    * is assigned a size class q = ⌊capacity / n_tokens⌋ (the number of
    * docs of its size that fit per window); within a class, docs are
    * ranked by id and placed q per bin — so every bin's fill is ≤
    * q·(capacity/q) = capacity BY CONSTRUCTION, with no sequential state.
    *
    * That makes the whole assignment closed-form arithmetic over a
    * per-class rank: exactly replayable in SQL (the oracle) and free of
    * the bin-fill carry that makes true first-fit inherently sequential.
    * Waste is the harmonic-fit bound (≤ ~1.7× optimal worst case, far
    * less on natural length distributions); callers who need tighter
    * packing use [[packBinsFfd]] and give up the closed form.
    *
    * Physical shape: one global range-partitioned rank (class, id) via
    * [[graft.core.Ranker]] — NOT a window partitioned by size_class,
    * whose ≤ capacity distinct keys would funnel a 100 TB corpus through
    * a handful of reducers — then per-class start offsets (≤ capacity
    * rows) broadcast back.  Output: (doc_id, n_tokens, size_class,
    * bin_in_class, slot); (size_class, bin_in_class) is the global bin key.
    *
    * Fails loudly on n_tokens NULL, < 1, or > capacity (an oversize doc
    * cannot be packed whole — truncate or route it explicitly upstream). */
  def packBinsShelf(df: DataFrame, nTokens: Column, idCol: Column,
      capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val n = nTokens.cast("long")
    val guarded = when(n.isNull,
        raise_error(lit("packBinsShelf: NULL n_tokens")).cast("long"))
      .when(n < 1L || n > capacity,
        raise_error(concat(lit("packBinsShelf: n_tokens out of [1, "),
          lit(capacity), lit("]: "), n)).cast("long"))
      .otherwise(n)
    val base = df.select(idCol.as("doc_id"), guarded.as("n_tokens"))
      .withColumn("size_class",
        floor(lit(capacity) / col("n_tokens")).cast("long"))
    val ranked = graft.core.Ranker.withRank(base, "__gr",
      col("size_class"), col("doc_id"))
    // per-class first global rank: ≤ capacity rows — broadcast join
    val starts = ranked.groupBy("size_class")
      .agg(min(col("__gr")).as("__start"))
    ranked.join(broadcast(starts), "size_class")
      .withColumn("__cr", col("__gr") - col("__start"))
      .select(col("doc_id"), col("n_tokens"), col("size_class"),
        floor(col("__cr") / col("size_class")).cast("long")
          .as("bin_in_class"),
        pmod(col("__cr"), col("size_class")).cast("long").as("slot"))
  }

  /** [[packBinsShelf]] within groups: packing never mixes documents from
    * different groups into one bin — the per-language / per-source packing
    * multilingual SFT runs (a batch should not interleave languages the
    * collator can't pad together).  Same closed form with the size class
    * keyed by (group, q); the class-start table stays broadcast-sized
    * (|groups| · capacity rows).  Output adds the group column; the global
    * bin key is (grp, size_class, bin_in_class). */
  def packBinsShelfBy(df: DataFrame, group: Column, nTokens: Column,
      idCol: Column, capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val n = nTokens.cast("long")
    val guarded = when(n.isNull,
        raise_error(lit("packBinsShelfBy: NULL n_tokens")).cast("long"))
      .when(n < 1L || n > capacity,
        raise_error(concat(lit("packBinsShelfBy: n_tokens out of [1, "),
          lit(capacity), lit("]: "), n)).cast("long"))
      .otherwise(n)
    val base = df.select(group.as("grp"), idCol.as("doc_id"),
        guarded.as("n_tokens"))
      .withColumn("size_class",
        floor(lit(capacity) / col("n_tokens")).cast("long"))
    val ranked = graft.core.Ranker.withRank(base, "__gr",
      col("grp"), col("size_class"), col("doc_id"))
    val starts = ranked.groupBy("grp", "size_class")
      .agg(min(col("__gr")).as("__start"))
    ranked.join(broadcast(starts), Seq("grp", "size_class"))
      .withColumn("__cr", col("__gr") - col("__start"))
      .select(col("grp"), col("doc_id"), col("n_tokens"), col("size_class"),
        floor(col("__cr") / col("size_class")).cast("long")
          .as("bin_in_class"),
        pmod(col("__cr"), col("size_class")).cast("long").as("slot"))
  }

  /** Boundary-respecting sequence packing, first-fit-decreasing variant —
    * tighter than [[packBinsShelf]] (FFD ≤ 11/9·OPT + 6/9 bins per group,
    * Dósa 2007) at the cost of sequential bin-fill state.  The corpus is
    * split into `numGroups` deterministic groups (doc_id mod numGroups)
    * and classic FFD runs independently inside each: sort the group's
    * docs by (n_tokens desc, id), place each in the first bin it fits.
    *
    * Scale shape: the sequential state is PER GROUP — group size, not
    * corpus size, bounds both the memory for bin fills and the O(m·bins)
    * scan, and groups pack in parallel across executors.  At 100 TB,
    * numGroups grows with the corpus so each group stays executor-sized;
    * the only shuffle is the groupBy on the group key.  Output:
    * (doc_id, n_tokens, grp, bin_in_group); (grp, bin_in_group) is the
    * global bin key.  Same loud-failure contract as [[packBinsShelf]]. */
  def packBinsFfd(df: DataFrame, nTokens: Column, idCol: Column,
      capacity: Long, numGroups: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    require(numGroups > 0, "numGroups must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val n = nTokens.cast("long")
    val guarded = when(n.isNull,
        raise_error(lit("packBinsFfd: NULL n_tokens")).cast("long"))
      .when(n < 1L || n > capacity,
        raise_error(concat(lit("packBinsFfd: n_tokens out of [1, "),
          lit(capacity), lit("]: "), n)).cast("long"))
      .otherwise(n)
    // the id cast must fail as loudly as the token guard: a non-numeric
    // id would otherwise null out grp/doc_id and die as an opaque
    // encoder NPE
    val idL = idCol.cast("long")
    val idG = when(idL.isNull,
      raise_error(lit("packBinsFfd: NULL or non-numeric doc_id"))
        .cast("long")).otherwise(idL)
    df.select(pmod(idG, lit(numGroups.toLong)).as("grp"),
        idG.as("doc_id"), guarded.as("n_tokens"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val docs = it.map { case (_, id, nt) => (id, nt) }.toArray
          .sortBy { case (id, nt) => (-nt, id) }
        val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
        docs.iterator.map { case (id, nt) =>
          var b = 0
          while (b < fills.length && fills(b) + nt > capacity) b += 1
          if (b == fills.length) fills += nt else fills(b) += nt
          (id, nt, g, b.toLong)
        }
      }
      .toDF("doc_id", "n_tokens", "grp", "bin_in_group")
  }

  /** [[packBinsFfd]] within groups: FFD packing that never mixes
    * documents from different groups into one bin (the per-language
    * [[packBinsShelfBy]] constraint, with FFD tightness).  The FFD state
    * is per (group, doc_id mod subGroups) composite key, so a huge group
    * still fans out across `subGroups` parallel packers.  Output:
    * (grp, sub, doc_id, n_tokens, bin_in_group); the global bin key is
    * (grp, sub, bin_in_group). */
  def packBinsFfdBy(df: DataFrame, group: Column, nTokens: Column,
      idCol: Column, capacity: Long, subGroups: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    require(subGroups > 0, "subGroups must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val n = nTokens.cast("long")
    val guarded = when(n.isNull,
        raise_error(lit("packBinsFfdBy: NULL n_tokens")).cast("long"))
      .when(n < 1L || n > capacity,
        raise_error(concat(lit("packBinsFfdBy: n_tokens out of [1, "),
          lit(capacity), lit("]: "), n)).cast("long"))
      .otherwise(n)
    val idL = idCol.cast("long")
    val idG = when(idL.isNull,
      raise_error(lit("packBinsFfdBy: NULL or non-numeric doc_id"))
        .cast("long")).otherwise(idL)
    df.select(group.cast("string").as("grp"),
        pmod(idG, lit(subGroups.toLong)).as("sub"),
        idG.as("doc_id"), guarded.as("n_tokens"))
      .as[(String, Long, Long, Long)]
      .groupByKey { case (g, s, _, _) => (g, s) }
      .flatMapGroups { (key: (String, Long),
          it: Iterator[(String, Long, Long, Long)]) =>
        val (g, s) = key
        val docs = it.map { case (_, _, id, nt) => (id, nt) }.toArray
          .sortBy { case (id, nt) => (-nt, id) }
        val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
        docs.iterator.map { case (id, nt) =>
          var b = 0
          while (b < fills.length && fills(b) + nt > capacity) b += 1
          if (b == fills.length) fills += nt else fills(b) += nt
          (g, s, id, nt, b.toLong)
        }
      }
      .toDF("grp", "sub", "doc_id", "n_tokens", "bin_in_group")
  }

  /** EXACT heavy hitters at sketch cost: every token with corpus frequency
    * ≥ `phi` · N (N = total token count), with its exact count.
    *
    * Two narrow passes, no full-vocabulary shuffle:
    *  1. per-partition Misra-Gries with k = ⌈1/φ⌉ counters.  Any global
    *     heavy hitter has local ratio ≥ φ in some partition (pigeonhole),
    *     and φ·n_p > n_p/(k+1), so it survives that partition's sketch —
    *     the union of survivors is a guaranteed superset.  The same pass
    *     tallies N, so discovery is ONE job.
    *  2. exact counts for the ≤ partitions·k candidates only: a
    *     broadcast-set filter in front of the groupBy, so the shuffle
    *     carries candidate tokens instead of the whole vocabulary.
    *
    * Unlike a plain `groupBy(token)` top-φ, the shuffled key space is
    * bounded by the sketch width no matter how large the long tail is —
    * the 100 TB-corpus shape where the tail IS the data. */
  def heavyHitters(df: DataFrame, text: Column, phi: Double,
      maxCandidates: Int = 1 << 20): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi must be in (0,1], got $phi")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(explode(tokens(text)).as("tok")).as[String]
    val k = math.ceil(1.0 / phi).toInt
    // pass 1: (survivor tokens, partition token count) per partition
    val perPart = toks.mapPartitions { it =>
      val counts = new java.util.HashMap[String, Long](2 * k)
      var n = 0L
      while (it.hasNext) {
        val t = it.next(); n += 1
        val cur = counts.get(t)
        if (cur > 0L) counts.put(t, cur + 1L)
        else if (counts.size < k) counts.put(t, 1L)
        else { // decrement round: k counters + the unmatched item
          val jt = counts.entrySet().iterator()
          while (jt.hasNext) {
            val e = jt.next()
            if (e.getValue == 1L) jt.remove() else e.setValue(e.getValue - 1L)
          }
        }
      }
      import scala.jdk.CollectionConverters._
      Iterator.single((counts.keySet().asScala.toArray, n))
    }.collect()
    val n = perPart.map(_._2).sum
    val candidates = perPart.iterator.flatMap(_._1).toSet
    require(candidates.size <= maxCandidates,
      s"heavy-hitter candidate set ${candidates.size} exceeds " +
        s"$maxCandidates — raise phi or maxCandidates")
    val threshold = math.ceil(phi * n).toLong
    val bc = spark.sparkContext.broadcast(candidates)
    val isCand = udf { (t: String) => bc.value.contains(t) }
    toks.toDF("tok").where(isCand(col("tok")))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= threshold)
  }

  /** Top-`k` TF-IDF terms per document — the classic keyword extractor
    * (corpus-level feature for routing, clustering seeds, index terms).
    * tf = raw in-document count, idf = ln(N/df) (no smoothing — every
    * term scored comes from the corpus, so df ≥ 1), score rounded to 6 dp
    * with term-lexicographic tie-break so ranking is engine-exact.
    *
    * Shape: two hash aggregations (document-term, then term), a
    * vocabulary-table join (broadcast by default), and a rank ≤ k
    * predicate that plans as WindowGroupLimit — per-document state is
    * O(k), never a full per-document sort. */
  def tfidfTopTerms(df: DataFrame, text: Column, idCol: Column, k: Int,
      broadcastVocab: Boolean = true): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(idCol.as("doc_id"), explode(tokens(text)).as("tok"))
    val tf = toks.groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast("double").as("tf"))
    val n = df.select(count(lit(1)).cast("double").as("__n"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("__df"))
    val vocab = if (broadcastVocab) broadcast(dfreq) else dfreq
    val scored = tf.join(vocab, "tok").crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok").as("term"),
        round(col("tf") * log(col("__n") / col("__df")), 6).as("tfidf"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Per-class approximate vocabulary size: HyperLogLog++ distinct token
    * count (`approx_count_distinct`, relative error ≈ `rsd`).  The
    * 100 TB-scale form of per-domain vocabulary profiling: constant-size
    * sketch state per class, one partial-aggregate pass, no token-level
    * shuffle at all — the map side emits merged sketches, not tokens.
    * The `text_approx_distinct` query cross-checks it against the exact
    * count and asserts the error bound as an invariant. */
  def approxDistinctTokens(df: DataFrame, text: Column, classCol: Column,
      rsd: Double = 0.02): DataFrame =
    df.select(classCol.as("cls"), explode(tokens(text)).as("tok"))
      .groupBy("cls")
      .agg(approx_count_distinct(col("tok"), rsd).as("n_approx"))

  /** Context-window chunking: split each document into windows of
    * `chunkTokens` whitespace tokens advancing by `chunkTokens − overlap`,
    * so consecutive chunks share `overlap` tokens (the RAG/pretraining
    * chunker).  The final window may be short; a document shorter than one
    * window yields exactly one chunk.
    *
    * Pure narrow plan: tokenize → per-row chunk count → `posexplode` of a
    * `transform(sequence(...))` over array slices — no shuffle, no UDF,
    * output rows stream out of the scan task that produced them. */
  def chunkDocs(df: DataFrame, text: Column, idCol: Column,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap")
    val stride = chunkTokens - overlap
    df.select(idCol.as("doc_id"), tokens(text).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__nc", greatest(lit(1),
        ceil((col("__n") - lit(overlap)) / lit(stride.toDouble)).cast("int")))
      .select(col("doc_id"), col("__toks"), col("__n"),
        posexplode(transform(sequence(lit(0), col("__nc") - 1), i =>
          concat_ws(" ", slice(col("__toks"), i * stride + 1, lit(chunkTokens))))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        least(lit(chunkTokens), col("__n") - col("pos") * stride)
          .cast("long").as("n_chunk_tokens"),
        col("col").as("chunk_text"))
  }

  /** EXACT-IQR outlier gate on an integer metric (document length, token
    * count): flag rows outside [q1 − k·IQR, q3 + k·IQR] with quartiles
    * defined by EXACT rank (r1 = (n−1)/4, r3 = 3(n−1)/4 in the (metric,
    * id) total order) — no approxQuantile nondeterminism, and with an
    * integer `k` the bounds are integer arithmetic, oracle-exact.  The
    * extreme-length filter every curation run applies before
    * length-sensitive stages.
    *
    * Shape: one range-partitioned rank ([[graft.core.Ranker]] — no
    * single-partition window), a 2-row collect for the quartile values,
    * then a pure pushdown-able predicate over the scan. */
  def iqrOutlierGate(df: DataFrame, metric: Column, idCol: Column,
      k: Long = 3L): DataFrame = {
    require(k >= 0, "k must be non-negative")
    val m = df.select(idCol.as("doc_id"), metric.cast("long").as("v"))
    val n = m.count()
    require(n > 0, "empty input")
    val r1 = (n - 1) / 4
    val r3 = 3 * (n - 1) / 4
    val ranked = graft.core.Ranker.withRank(m, "__r", col("v"), col("doc_id"))
    val qs = ranked.where(col("__r") === r1 || col("__r") === r3)
      .select("__r", "v").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val q1 = qs(r1); val q3 = qs(r3); val iqr = q3 - q1
    m.select(col("doc_id"), col("v"),
      (col("v") < lit(q1 - k * iqr) || col("v") > lit(q3 + k * iqr))
        .as("is_outlier"))
  }

  /** Median-absolute-deviation outlier gate: flags rows with
    * `|v − median| > k·MAD` — the robust alternative to [[iqrOutlierGate]]
    * when even the quartiles are contaminated (MAD has a 50% breakdown
    * point vs the IQR's 25%).  Both medians are EXACT lower medians
    * (rank ⌊(n−1)/2⌋ under (value, id) order) computed with the
    * range-partitioned Ranker; on integer metrics every comparison is
    * integer arithmetic — deterministic and oracle-reproducible.
    * Two tiny driver collects (one scalar each), no single-partition
    * window.  Output: (doc_id, v, is_outlier). */
  def madGate(df: DataFrame, metric: Column, idCol: Column,
      k: Long = 3L): DataFrame = {
    require(k >= 0, "k must be non-negative")
    val m = graft.core.CacheScope.persist(
      df.select(idCol.as("doc_id"), metric.cast("long").as("v")),
      eager = false)
    val n = m.count()
    require(n > 0, "empty input")
    val medRank = (n - 1) / 2
    def lowerMedian(d: DataFrame, value: Column): Long =
      graft.core.Ranker.withRank(d, "__r", value, col("doc_id"))
        .where(col("__r") === medRank).select(value.as("v"))
        .head().getLong(0)
    val med = lowerMedian(m, col("v"))
    val dev = m.select(col("doc_id"), abs(col("v") - med).as("dev"))
    val mad = lowerMedian(dev, col("dev"))
    m.select(col("doc_id"), col("v"),
      (abs(col("v") - med) > k * mad).as("is_outlier"))
  }

  /** Frequent-token subsampling (Mikolov et al. 2013 §2.3's downsampling,
    * in its simple `min(1, √(t/f))` keep-probability form): each token
    * POSITION survives with probability tied to its corpus frequency, so
    * stop-word mass shrinks while rare-token signal is untouched.  The
    * draw is the md5 uniform of (doc, position) — deterministic under
    * retry, oracle-reproducible.
    *
    * Shuffles: the frequency aggregate and the token-keyed probability
    * join (both map-side combinable / bounded by vocabulary); the keep
    * decision itself is a pure row predicate.  Output per document (with
    * ≥ 1 token): (doc_id, n_tokens, n_kept). */
  def downsampleFrequentTokens(df: DataFrame, text: Column, id: Column,
      threshold: Double = 1e-3, seed: Long = 17L): DataFrame = {
    require(threshold > 0, "threshold must be positive")
    val tk = graft.core.CacheScope.persist(
      df.select(id.as("doc_id"),
        posexplode(tokens(text)).as(Seq("pos", "tok"))),
      eager = false)
    val freq = tk.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum("cnt").as("tot"))
    val p = freq.crossJoin(broadcast(tot))
      .select(col("tok"), round(least(lit(1.0),
        sqrt(lit(threshold) * col("tot").cast("double") / col("cnt"))), 6)
        .as("p"))
    val kept = tk.join(p, "tok")
      .where(graft.core.Rng.Md5.uniform(seed, "tds", col("doc_id"),
        col("pos")) < col("p"))
    tk.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      .join(kept.groupBy("doc_id").agg(count(lit(1)).as("n_kept")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_kept"))
  }

  /** Exact percentile rank of a metric per row: rank/(n−1) under the
    * (metric, id) total order — the threshold-free normalization behind
    * "keep the top X%" gates (quantile normalization of arbitrary score
    * distributions).  Rank comes from the range-partitioned Ranker (no
    * single-partition window); ties order by id, so the percentile is
    * deterministic and oracle-reproducible.  Output: (doc_id, metric,
    * pctile) with pctile 6-dp in [0, 1]. */
  def percentileRank(df: DataFrame, metric: Column, idCol: Column): DataFrame = {
    val m = df.select(idCol.as("doc_id"), metric.as("v"))
    val n = m.count()
    require(n > 0, "empty input")
    val denom = math.max(1L, n - 1L).toDouble
    graft.core.Ranker.withRank(m, "__r", col("v"), col("doc_id"))
      .select(col("doc_id"), col("v").as("metric"),
        round(col("__r").cast("double") / lit(denom), 6).as("pctile"))
  }

  /** Corpus profile: the one-pass stats card a curation run opens with —
    * (stat, value) rows for document count, whitespace-token and char
    * totals, distinct source/lang counts, null/empty-text count, and mean
    * tokens per document (the single float division).  One full-corpus
    * aggregate (map-side combined to a single row per task) plus two
    * small distinct aggs; emitted long-form so downstream diffing of two
    * corpus versions is a join on `stat`. */
  def corpusProfile(df: DataFrame, text: Column, sourceCol: Column,
      langCol: Column): DataFrame = {
    val base = df.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(size(tokens(text))), lit(0L)).as("n_tokens"),
      coalesce(sum(length(text)), lit(0L)).as("n_chars"),
      sum(when(text.isNull || length(text) === 0, 1L).otherwise(0L))
        .as("n_empty"))
    val nSrc = df.agg(count_distinct(sourceCol).as("v"))
    val nLang = df.agg(count_distinct(langCol).as("v"))
    val longForm = base.select(explode(array(
      struct(lit("n_docs").as("stat"), col("n_docs").cast("double").as("value")),
      struct(lit("n_tokens").as("stat"), col("n_tokens").cast("double").as("value")),
      struct(lit("n_chars").as("stat"), col("n_chars").cast("double").as("value")),
      struct(lit("n_empty_text").as("stat"), col("n_empty").cast("double").as("value")),
      struct(lit("mean_doc_tokens").as("stat"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double")).as("value"))
    ))).select(col("col.stat").as("stat"), col("col.value").as("value"))
    longForm
      .unionByName(nSrc.select(lit("n_sources").as("stat"),
        col("v").cast("double").as("value")))
      .unionByName(nLang.select(lit("n_langs").as("stat"),
        col("v").cast("double").as("value")))
  }

  /** Token bigrams as (w1, w2) rows — empty for documents with < 2
    * tokens.  Pure narrow plan: `transform(sequence)` over the token
    * array, then one explode. */
  private def bigrams(text: Column): Column =
    graft.functions.NgramStructs.ngramStructs(text, 2)

  /** Bigram language-model fluency score — the CCNet/KenLM pattern with a
    * corpus-estimable model: each document scored by the mean conditional
    * log-probability of its token bigrams under add-one-smoothed counts
    * from a reference corpus,
    *
    *   P(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V)
    *
    * with `c(w1,·)` the reference count of w1 as a bigram head and V the
    * reference unigram vocabulary size.  Higher mean log-prob = more
    * reference-like word-to-word transitions — the step up from
    * [[tokenFrequencyScore]]'s order-free unigram statistics.
    *
    * Determinism: each bigram's log-prob is rounded to 6 dp and scaled to
    * a BIGINT once; the per-document aggregate is an integer sum with ONE
    * final division — the [[dsirWeights]] discipline.
    *
    * Shape at scale: both model tables collapse map-side to their key
    * cardinality; scoring joins on (w1, w2) — broadcast when the reference
    * is a curated sample (the CCNet setup: the LM is trained on the small
    * clean corpus), shuffle-join with AQE otherwise.  Documents with < 2
    * tokens produce no row.
    * Output: (doc_id, n_bigrams, mean_lp). */
  def bigramLmScore(df: DataFrame, text: Column, idCol: Column,
      ref: DataFrame, refText: Column,
      broadcastModel: Boolean = true): DataFrame = {
    // the model tables are reference-sized (the CCNet setup trains the LM
    // on the small curated corpus): broadcast them by default so scoring
    // is a narrow pass — a post-agg table has no stats, and the planner's
    // blind default is a sort-merge join that sorts the corpus bigrams.
    // Pass broadcastModel = false for a reference too big to broadcast.
    def side(t: DataFrame): DataFrame = if (broadcastModel) broadcast(t) else t
    // ONE bigram aggregate; the w1 marginal is a sum over the MODEL table
    // (c1(w1) = Σ_w2 c12), not a second pass over the reference bigrams
    val bgAgg = graft.core.CacheScope.persist(
      ref.select(explode(bigrams(refText)).as("bg"))
        .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .agg(count(lit(1)).as("c12")),
      eager = false)
    val c12 = side(bgAgg)
    val c1 = side(bgAgg.groupBy("w1").agg(sum("c12").as("c1")))
    val vSize = ref.select(explode(tokens(refText)).as("tok"))
      .agg(count_distinct(col("tok")).cast("double").as("__v"))
    val scored = df.select(idCol.as("doc_id"), explode(bigrams(text)).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vSize))
      .select(col("doc_id"),
        round(log((coalesce(col("c12"), lit(0L)) + lit(1)).cast("double") /
                  ((coalesce(col("c1"), lit(0L))).cast("double") + col("__v")))
          * lit(1e6), 0).cast("long").as("lp6"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp6").as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("__s").cast("double") /
          (lit(1e6) * col("n_bigrams").cast("double"))).as("mean_lp"))
  }

  private def trigrams(text: Column): Column =
    graft.functions.NgramStructs.ngramStructs(text, 3)

  /** Trigram Stupid-Backoff fluency score (Brants et al. 2007, "Large
    * Language Models in Machine Translation" §4) — the web-scale LM
    * smoothing: no discounting to tune, just back off with a fixed
    * multiplier α=0.4 when a higher-order count is absent:
    *
    *   S(w3|w1 w2) = c123/c12                   if c123 > 0
    *               = 0.4 · c23/c2               elif c23 > 0
    *               = 0.4² · (c3+1)/(N+V)        otherwise (add-one floor,
    *                                             so unseen words score > 0)
    *
    * Per-document output is the mean log-score of its trigrams — the
    * trigram upgrade of [[bigramLmScore]], same determinism discipline:
    * each trigram's log S is 6-dp fixed-point scaled to BIGINT, summed as
    * integers (order-independent), one final division.
    *
    * Shape at 100 TB: all model tables collapse map-side to n-gram-type
    * cardinality and broadcast (the reference corpus is the small curated
    * sample — pass broadcastModel=false otherwise); scoring is a narrow
    * explode over the corpus scan whose only shuffle is the final per-doc
    * hash agg.  Output: (doc_id, n_trigrams, mean_lp). */
  def sboScore(df: DataFrame, text: Column, idCol: Column,
      ref: DataFrame, refText: Column,
      broadcastModel: Boolean = true): DataFrame = {
    def side(t: DataFrame): DataFrame = if (broadcastModel) broadcast(t) else t
    val c123 = ref.select(explode(trigrams(refText)).as("tg"))
      .groupBy(col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
      .agg(count(lit(1)).as("c123"))
    // ONE bigram aggregate serves both backoff keys: c23 is c12 re-keyed
    // on the trigram's last two positions, not a second explode+aggregate
    // over the reference corpus (which doubled the model-build cost)
    val bgAgg = graft.core.CacheScope.persist(
      ref.select(explode(bigrams(refText)).as("bg"))
        .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .agg(count(lit(1)).as("cbg")),
      eager = false)
    val c12 = bgAgg.select(col("w1"), col("w2"), col("cbg").as("c12"))
    val c23 = bgAgg.select(col("w1").as("w2"), col("w2").as("w3"),
      col("cbg").as("c23"))
    // likewise ONE unigram aggregate for both w2/w3 lookups AND the (N, V)
    // totals — three former explodes of the reference token stream
    val uniAgg = graft.core.CacheScope.persist(
      ref.select(explode(tokens(refText)).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cu")),
      eager = false)
    val c3 = side(uniAgg.select(col("tok").as("w3"), col("cu").as("c3")))
    val nv = uniAgg.agg(sum("cu").cast("double").as("__n"),
      count(lit(1)).cast("double").as("__v"))
    // Backoff ratios PRECOMPUTED at model-build time: every reference
    // trigram implies its prefix bigram exists (and every bigram its
    // first unigram), so c123/c12 and 0.4·c23/c2 are total on their key
    // sets and fold into the model tables — the corpus-wide exploded
    // trigram stream then pays THREE broadcast probes instead of five.
    // The divisions are the same IEEE ops the score previously did per
    // row, so results are bit-identical (and oracle-unchanged).
    val r123 = side(c123.join(c12, Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("w3"),
        (col("c123").cast("double") / col("c12")).as("r3")))
    val r23 = side(c23.join(uniAgg.select(col("tok").as("w2"),
        col("cu").as("c2")), Seq("w2"))
      .select(col("w2"), col("w3"),
        (lit(0.4) * col("c23").cast("double") / col("c2")).as("r2")))
    val score =
      when(col("r3").isNotNull, col("r3"))
        .when(col("r2").isNotNull, col("r2"))
        .otherwise(lit(0.16) * (coalesce(col("c3"), lit(0L)) + lit(1))
          .cast("double") / (col("__n") + col("__v")))
    val scored = df.select(idCol.as("doc_id"), explode(trigrams(text)).as("tg"))
      .select(col("doc_id"), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
      .join(r123, Seq("w1", "w2", "w3"), "left")
      .join(r23, Seq("w2", "w3"), "left")
      .join(c3, Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .select(col("doc_id"),
        round(log(score) * lit(1e6), 0).cast("long").as("lp6"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), sum("lp6").as("__s"))
      .select(col("doc_id"), col("n_trigrams"),
        (col("__s").cast("double") /
          (lit(1e6) * col("n_trigrams").cast("double"))).as("mean_lp"))
  }

  /** Out-of-vocabulary rate against the top-`vocabSize` tokens of a
    * reference corpus (count desc, token asc ties — a total order, so the
    * vocabulary set is deterministic): per document, the fraction of its
    * tokens missing from that vocabulary.  High OOV ≈ foreign language,
    * boilerplate-mangled, or domain-shifted text — the vocabulary-coverage
    * gate of CCNet-style curation.
    *
    * Shape at 100 TB: the vocabulary is a `vocabSize`-row TakeOrdered off
    * the reference corpus's map-side-combined token counts, then BROADCAST
    * into the scoring join — the corpus explode never shuffles tokens,
    * only the final per-doc hash agg (map-side combined to ~1 row/doc)
    * does.  Documents with zero tokens yield no row (the [[dsirWeights]]
    * convention).  Output: (doc_id, n_tokens, oov_rate 6-dp). */
  def oovRate(df: DataFrame, text: Column, id: Column,
      ref: DataFrame, refText: Column, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val vocab = ref.select(explode(tokens(refText)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("__in"))
    df.select(id.cast("long").as("doc_id"), explode(tokens(text)).as("tok"))
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("__oov"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("__oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
  }

  /** Driver-materialized top-`vocabSize` vocabulary of a reference corpus
    * (same (count desc, token asc) total order as [[oovRate]]) — the
    * model artifact for stateless/stream scoring.  Bounded collect: the
    * result is `vocabSize` strings, never corpus-sized (the
    * [[dsirLogRatioMap]] convention). */
  def vocabTop(ref: DataFrame, refText: Column, vocabSize: Int): Seq[String] = {
    require(vocabSize > 0, "vocabSize must be positive")
    import ref.sparkSession.implicits._
    ref.select(explode(tokens(refText)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tok")).limit(vocabSize)
      .select("tok").as[String].collect().toSeq
  }

  /** Stateless per-row OOV rate against a driver-held vocabulary
    * ([[vocabTop]]): pure array arithmetic on the token list — no join,
    * no shuffle, no state — so it runs identically over a batch frame or
    * a micro-batch (score-at-ingestion;
    * [[graft.streaming.StreamingOps.oovScoreStream]]).  Bit-equal to
    * [[oovRate]] under the same vocabulary.  The per-token cost is a
    * linear scan of the vocabulary literal — fine for gate-sized vocabs
    * (hundreds–thousands); use the join form for larger ones. */
  def oovRateStateless(df: DataFrame, text: Column, id: Column,
      vocab: Seq[String]): DataFrame = {
    val vlit = typedLit(vocab)
    df.select(id.cast("long").as("doc_id"), tokens(text).as("__t"))
      .where(size(col("__t")) > 0)
      .select(col("doc_id"), size(col("__t")).cast("long").as("n_tokens"),
        round(size(filter(col("__t"), t => !array_contains(vlit, t)))
          .cast("double") / size(col("__t")), 6).as("oov_rate"))
  }

  /** Top-k collocations by pointwise mutual information (Church & Hanks
    * 1990): PMI(w1,w2) = ln( (c12/N_bg) / ((c1/N_tok)·(c2/N_tok)) ) over
    * bigrams with `c12 ≥ minCount` (the low-count PMI blow-up guard).
    * All counts are exact integers from map-side-combined hash aggs; PMI
    * is one ln of an integer-ratio product, 6-dp rounded, and the top-k
    * order (pmi desc, w1, w2) is total — engine-exact.
    *
    * Shape at 100 TB: two explode+agg passes (bigrams, unigrams) that
    * collapse map-side to vocabulary cardinality; the ≥minCount bigram
    * table joins the unigram counts on word keys (AQE picks the
    * broadcast when the filtered side is small); the result is a
    * TakeOrdered top-k — output bounded by the parameter, not the corpus.
    * Output: (w1, w2, c12, pmi). */
  def pmiTop(df: DataFrame, text: Column, k: Int,
      minCount: Long = 2L): DataFrame = {
    require(k > 0 && minCount >= 1, "k and minCount must be positive")
    val bg = df.select(explode(bigrams(text)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bgCounts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .where(col("c12") >= minCount)
    // total bigrams = Σ max(n_tokens−1, 0): a narrow per-row sum — NOT a
    // second explode of the corpus bigram stream (which doubled the
    // query's scan+explode cost)
    val nBg = df.select(greatest(size(tokens(text)) - 1, lit(0))
      .cast("long").as("__b")).agg(sum("__b").as("__nb"))
    val uni = df.select(explode(tokens(text)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__c"))
    val nTok = uni.agg(sum("__c").as("__nt"))
    bgCounts
      .join(uni.select(col("tok").as("w1"), col("__c").as("__c1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("__c").as("__c2")), Seq("w2"))
      .crossJoin(broadcast(nBg)).crossJoin(broadcast(nTok))
      .select(col("w1"), col("w2"), col("c12"),
        // double products (left-assoc, same in the SQL mirror): the long
        // product c12·N²_tok overflows 64 bits at real corpus scale
        round(log((col("c12").cast("double") * col("__nt") * col("__nt")) /
          (col("__nb").cast("double") * col("__c1") * col("__c2"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Hashed bag-of-words bucket id for one token: top 60 bits of md5 mod
    * `buckets` — the cross-engine-stable hash convention used by every
    * dedup kernel (DuckDB mirror: `('0x'||substr(md5(tok),1,15))::BIGINT %
    * buckets`). */
  private def tokenBucket(tok: Column, buckets: Int): Column =
    pmod(conv(substring(md5(tok), 1, 15), 16, 10).cast("long"), lit(buckets))

  /** DSIR importance weights (Xie et al., NeurIPS 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how target-like its hashed bag-of-words is.
    *
    * Model: unigram counts hashed into `buckets` buckets; Laplace-smoothed
    * bucket log-probabilities under the target sample (`p`) and the raw
    * corpus (`q`); a document's weight is `log w = Σ_tok (log p[b(tok)] −
    * log q[b(tok)])`.  Output: `(doc_id, n_tokens, log_w)`, one row per
    * raw document with ≥1 token.
    *
    * Determinism: the per-bucket log-ratio is rounded to 6 dp and scaled
    * to a BIGINT once; every per-document aggregate after that is integer
    * arithmetic (order-independent, oracle-exact) with a single final
    * division — the [[tokenFrequencyScore]] discipline.
    *
    * Physical shape at 100 TB: two token-explode passes (target + raw)
    * collapse map-side into ≤ `buckets` partial rows per task, so both
    * model fits shuffle O(buckets), not O(tokens); the log-ratio table is
    * ≤ `buckets` rows and broadcast into the scoring join, so scoring is a
    * narrow pass over the raw scan whose only shuffle is the final per-doc
    * hash agg (map-side-combined to ~1 row per doc). */
  /** Hashed-unigram bucket counts of one corpus: (bucket, c). */
  private def bucketCountsOf(df: DataFrame, text: Column,
      buckets: Int): DataFrame =
    df.select(explode(tokens(text)).as("tok"))
      .select(tokenBucket(col("tok"), buckets).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))

  /** Fixed-point log-ratio table from target/raw bucket-count frames —
    * the shared model tail of [[dsirWeights]] and [[dsirWeightsAgainst]].
    * `spine` supplies the bucket domain to emit lr rows for; tc/sc counts
    * are left-joined onto it and missing counts smooth to 0. */
  private def dsirLogRatio(spine: DataFrame, tc: DataFrame, sc: DataFrame,
      buckets: Int): DataFrame = {
    val b = buckets.toLong
    val tTot = tc.agg(coalesce(sum("tc"), lit(0L)).cast("double").as("__t"))
    val sTot = sc.agg(coalesce(sum("sc"), lit(0L)).cast("double").as("__s"))
    spine.join(tc, Seq("bucket"), "left").join(sc, Seq("bucket"), "left")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(sTot))
      .select(col("bucket"),
        round((log((coalesce(col("tc"), lit(0L)) + lit(1)).cast("double") /
                   (col("__t") + lit(b.toDouble))) -
               log((coalesce(col("sc"), lit(0L)) + lit(1)).cast("double") /
                   (col("__s") + lit(b.toDouble)))) * lit(1e6), 0)
          .cast("long").as("lr6"))
  }

  /** Score `df` docs against a broadcast lr6 table: (doc_id, n_tokens,
    * log_w) with the integer-sum / one-division discipline. */
  private def dsirScore(df: DataFrame, text: Column, idCol: Column,
      lr: DataFrame, buckets: Int): DataFrame =
    df.select(idCol.as("doc_id"), explode(tokens(text)).as("tok"))
      .select(col("doc_id"), tokenBucket(col("tok"), buckets).as("bucket"))
      .join(broadcast(lr), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lr6").as("__w"))
      .select(col("doc_id"), col("n_tokens"),
        (col("__w").cast("double") / lit(1e6)).as("log_w"))

  def dsirWeights(raw: DataFrame, target: DataFrame, text: Column,
      idCol: Column, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // both count tables feed two consumers (the lr join and their own
    // total); persisting caps each corpus at ONE token-explode pass
    val tc = graft.core.CacheScope.persist(
      bucketCountsOf(target, text, buckets).withColumnRenamed("c", "tc"),
      eager = false)
    val sc = graft.core.CacheScope.persist(
      bucketCountsOf(raw, text, buckets).withColumnRenamed("c", "sc"),
      eager = false)
    // every bucket a raw doc can hit appears in sc (the doc is in raw), so
    // sc is the spine; target-absent buckets smooth to count 0
    dsirScore(raw, text, idCol,
      dsirLogRatio(sc.select("bucket"), tc, sc, buckets), buckets)
  }

  /** Persisted DSIR model: the two bucket-count tables written as a
    * [[PersistedIndex]] (side 't' = target, 's' = raw) with the bucket
    * count as the validated parameter — the incremental data-selection
    * path.  [[dsirModelAppend]] adds a new raw shard's counts without
    * rewriting (readers SUM per (side, bucket)); [[dsirWeightsAgainst]]
    * scores a shard under the accumulated model.  Scoring a shard AFTER
    * appending it reproduces batch [[dsirWeights]] on the union corpus
    * exactly (the oracle fixture); scoring un-appended text is also
    * well-defined — the lr spine is the full bucket domain, so unseen
    * buckets smooth to count 0 instead of silently dropping tokens. */
  def dsirModelWrite(target: DataFrame, raw: DataFrame, text: Column,
      dir: String, buckets: Int = 4096): Unit = {
    val t = bucketCountsOf(target, text, buckets)
      .select(lit("t").as("side"), col("bucket"), col("c"))
    val s = bucketCountsOf(raw, text, buckets)
      .select(lit("s").as("side"), col("bucket"), col("c"))
    PersistedIndex.write(t.unionByName(s), dir, Seq("buckets" -> buckets))
  }

  /** Append a raw shard's bucket counts to a persisted DSIR model. */
  def dsirModelAppend(rawShard: DataFrame, text: Column, dir: String,
      buckets: Int = 4096): Unit =
    PersistedIndex.append(
      bucketCountsOf(rawShard, text, buckets)
        .select(lit("s").as("side"), col("bucket"), col("c")),
      dir, Seq("buckets" -> buckets))

  /** The per-bucket fixed-point log-ratio table of the persisted model at
    * `dir`, materialized driver-side over the FULL bucket domain — at most
    * `buckets` (default 4096) entries, the broadcast-literal form that a
    * stateless per-row scorer (the streaming path) consumes.  The
    * arithmetic mirrors [[dsirLogRatio]] operation-for-operation
    * (Math.log and HALF_UP rounding are exactly Spark's `log`/`round`),
    * so driver-side and plan-side lr6 values are bit-identical. */
  def dsirLogRatioMap(spark: org.apache.spark.sql.SparkSession, dir: String,
      buckets: Int = 4096): Map[Long, Long] = {
    PersistedIndex.requireParams(spark, dir, Seq("buckets" -> buckets))
    val m = spark.read.parquet(dir).groupBy("side", "bucket")
      .agg(sum("c").as("c")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val tc = m.collect { case (("t", b), c) => b -> c }.toMap
    val sc = m.collect { case (("s", b), c) => b -> c }.toMap
    val t = tc.values.sum.toDouble
    val s = sc.values.sum.toDouble
    val bd = buckets.toDouble
    (0L until buckets.toLong).map { b =>
      val lr = (math.log((tc.getOrElse(b, 0L) + 1).toDouble / (t + bd)) -
        math.log((sc.getOrElse(b, 0L) + 1).toDouble / (s + bd))) * 1e6
      b -> java.math.BigDecimal.valueOf(lr)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    }.toMap
  }

  /** STATELESS per-row DSIR scoring against a driver-materialized lr map
    * ([[dsirLogRatioMap]]) — no join, no per-doc shuffle: the score is a
    * higher-order fold over the token array inside the row's own task.
    * This is the form a STREAM can run (no state store), and the batch
    * spec proves it equal to [[dsirWeightsAgainst]].  Emits every row
    * with ≥ 1 token (matching the join form's contract). */
  def dsirScoreStateless(df: DataFrame, text: Column, idCol: Column,
      lrMap: Map[Long, Long], buckets: Int = 4096): DataFrame = {
    val lrLit = typedLit(lrMap)
    val toks = tokens(text)
    val w6 = aggregate(
      transform(toks, t =>
        coalesce(element_at(lrLit, tokenBucket(t, buckets)), lit(0L))),
      lit(0L), (acc, x) => acc + x)
    df.select(idCol.as("doc_id"), size(toks).cast("long").as("n_tokens"),
        (w6.cast("double") / lit(1e6)).as("log_w"))
      .where(col("n_tokens") >= 1)
  }

  /** Score `shard` documents under the persisted model at `dir`. */
  def dsirWeightsAgainst(dir: String, shard: DataFrame, text: Column,
      idCol: Column, buckets: Int = 4096): DataFrame = {
    val spark = shard.sparkSession
    PersistedIndex.requireParams(spark, dir, Seq("buckets" -> buckets))
    // append-mode writes leave multiple rows per (side, bucket): SUM first
    val m = graft.core.CacheScope.persist(
      spark.read.parquet(dir).groupBy("side", "bucket")
        .agg(sum("c").as("c")), eager = false)
    val tc = m.where(col("side") === "t")
      .select(col("bucket"), col("c").as("tc"))
    val sc = m.where(col("side") === "s")
      .select(col("bucket"), col("c").as("sc"))
    // full-domain spine: an un-appended shard's unseen buckets get the
    // count-0 smoothed lr instead of dropping its tokens from the join
    val spine = spark.range(buckets).select(col("id").as("bucket"))
    dsirScore(shard, text, idCol,
      dsirLogRatio(spine, tc, sc, buckets), buckets)
  }

  /** DSIR selection: the `n` raw documents with the highest importance
    * weight, deterministic tie-break on doc_id (the paper resamples with
    * Gumbel noise; a fixed-seed variant of that is ranking by `log_w` +
    * per-doc hash jitter — with jitter 0 it degenerates to this exact
    * top-n, which is what an oracle can replay).  Plans as
    * TakeOrderedAndProject: per-partition top-n, no global sort. */
  def dsirSelect(raw: DataFrame, target: DataFrame, text: Column,
      idCol: Column, n: Int, buckets: Int = 4096): DataFrame = {
    require(n > 0, "n must be positive")
    dsirWeights(raw, target, text, idCol, buckets)
      .orderBy(col("log_w").desc, col("doc_id"))
      .limit(n)
  }

  /** CCNet-style normalization (Wenzek et al. 2020 §4.1: the text form
    * hashed for dedup): lowercase → fold common Latin accents → every
    * digit to `0` → every remaining non-`[a-z0 ]` char (punctuation,
    * other scripts, newlines) to a space → collapse runs → trim.
    *
    * Pure codegen'd string expression — narrow, no UDF, no shuffle; the
    * `translate` table is identical in Spark and DuckDB so the oracle
    * replays it verbatim (DuckDB needs the `'g'` regexp flag). */
  def normalizeText(text: Column): Column = {
    val accents = "áàâäãåçéèêëíìîïñóòôöõúùûüýÿ"
    val plain = "aaaaaaceeeeiiiinooooouuuuyy"
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(translate(lower(coalesce(text, lit(""))), accents,
          plain), "[0-9]", "0"),
        "[^a-z0 ]", " "),
      " +", " "))
  }

  /** Per-document lexical-diversity card: token count, type count
    * (distinct tokens), hapax count (tokens occurring exactly once in the
    * doc), type-token ratio and hapax fraction (6 dp; null when the
    * denominator is 0).
    *
    * Scale shape: a narrow per-row fold — `array_sort` the doc's tokens,
    * then one `aggregate` pass counting run boundaries (a run of length 1
    * is a hapax).  The corpus token multiset never shuffles; contrast the
    * naive explode → groupBy(doc, token) → groupBy(doc) double shuffle.
    * Exact integer counts, so the two ratios are single IEEE divisions —
    * deterministic under any partitioning. */
  def lexicalDiversity(df: DataFrame, text: Column, idCol: Column): DataFrame = {
    val z = struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
      lit(0L).as("types"), lit(0L).as("hapax"))
    val folded = aggregate(array_sort(tokens(coalesce(text, lit("")))), z,
      (acc, t) => {
        val prev = acc.getField("prev")
        val run = acc.getField("run")
        val types = acc.getField("types")
        val hapax = acc.getField("hapax")
        when(prev.isNull,
          struct(t.as("prev"), lit(1L).as("run"), lit(1L).as("types"),
            lit(0L).as("hapax")))
          .when(t === prev,
            struct(t.as("prev"), (run + 1L).as("run"), types.as("types"),
              hapax.as("hapax")))
          .otherwise(struct(t.as("prev"), lit(1L).as("run"),
            (types + 1L).as("types"),
            (hapax + when(run === 1L, 1L).otherwise(0L)).as("hapax")))
      },
      acc => struct(acc.getField("types").as("types"),
        (acc.getField("hapax") +
          when(acc.getField("run") === 1L, 1L).otherwise(0L)).as("hapax")))
    df.select(idCol.as("doc_id"),
        size(tokens(coalesce(text, lit("")))).cast("long").as("n_tokens"),
        folded.getField("types").as("n_types"),
        folded.getField("hapax").as("n_hapax"))
      .withColumn("ttr",
        when(col("n_tokens") > 0,
          round(col("n_types").cast("double") / col("n_tokens"), 6)))
      .withColumn("hapax_frac",
        when(col("n_types") > 0,
          round(col("n_hapax").cast("double") / col("n_types"), 6)))
  }

  /** Per-class length quantiles, sketch vs exact: the GK/KLL-style
    * `percentile_approx` sketch (one pass, constant memory per class —
    * the 100 TB path) cross-checked against the exact rank quantile
    * (value at rank ⌈q·n⌉ of the sorted values).  Output per class:
    * (cls, n, p50_exact, p90_exact, within_bound) where `within_bound`
    * asserts both sketch estimates land within `tol` (relative) of
    * exact — the [[approxDistinctTokens]] invariant-oracle pattern: the
    * oracle replays the exact side and a constant `true`, so a sketch
    * regression breaks the hash match.  The exact side is the expensive
    * verification artifact, not the production path. */
  def lengthQuantiles(df: DataFrame, cls: Column, value: Column,
      qs: Seq[Double] = Seq(0.5, 0.9), tol: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 1))
    val w = Window.partitionBy("cls").orderBy(col("v"))
    val ranked = df.select(cls.as("cls"), value.cast("long").as("v"))
      .withColumn("rn", row_number().over(w))
    val n = ranked.groupBy("cls").agg(count(lit(1)).as("n"))
    val exact = qs.foldLeft(ranked.join(n, "cls")) { (acc, q) =>
      acc.withColumn(s"is_p${(q * 100).toInt}",
        col("rn") === ceil(lit(q) * col("n")).cast("int"))
    }
    val aggCols = first(col("n")).as("n") +:
      qs.map(q => max(when(col(s"is_p${(q * 100).toInt}"), col("v")))
        .as(s"p${(q * 100).toInt}_exact"))
    val exactAgg = exact.groupBy("cls").agg(aggCols.head, aggCols.tail: _*)
    val approxAgg = df.select(cls.as("cls"), value.cast("long").as("v"))
      .groupBy("cls")
      .agg(percentile_approx(col("v"),
        array(qs.map(lit): _*), lit(10000)).as("ap"))
    exactAgg.join(approxAgg, "cls")
      .withColumn("within_bound",
        qs.zipWithIndex.map { case (q, i) =>
          val e = col(s"p${(q * 100).toInt}_exact").cast("double")
          (abs(element_at(col("ap"), i + 1).cast("double") - e) <=
            lit(tol) * abs(e)) || e === 0.0
        }.reduce(_ && _))
      .drop("ap")
  }

  /** Gopher §A1.1's word-n-gram repetition fractions (Rae et al. 2021),
    * the tier [[repetitionFeatures]]' paragraph/bigram signals don't
    * cover: per document, the char mass of the MOST frequent n-gram
    * (n = 2, 3, 4) and of ALL duplicated n-grams (n = 5, 10), each as a
    * fraction of the doc's total token chars (6 dp; null when the doc
    * has no tokens; 0 when it is shorter than n).  Char mass of a gram =
    * occurrences × token chars (separators excluded); "most frequent"
    * ties break to the larger char length, then lexicographically
    * smallest gram — deterministic and oracle-replayable.
    *
    * Scale shape: per-row only — n-grams are built with
    * `transform(sequence)`/`slice`, sorted, and folded in ONE aggregate
    * pass per n that closes runs (a run's length is the gram's count).
    * The corpus gram multiset never shuffles; contrast the naive
    * explode → groupBy(doc, gram) → window top-1, which shuffles ~6× the
    * token stream.  Exact integer masses; the fraction is one division. */
  def ngramRepetition(df: DataFrame, text: Column, idCol: Column): DataFrame = {
    val toks = tokens(coalesce(text, lit("")))
    val totChars = aggregate(toks, lit(0L), (a, t) => a + length(t))
    def grams(n: Int): Column =
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    // fold the SORTED gram list closing runs: track the best (count,
    // charLen) run and the duplicated-run char mass, then top = cnt·len
    def masses(n: Int): Column = {
      val glen = (s: Column) => (length(s) - (n - 1)).cast("long")
      val z = struct(lit(null).cast("string").as("prev"),
        lit(0L).as("run"), lit(0L).as("bestCnt"), lit(0L).as("bestLen"),
        lit(0L).as("dup"))
      val close = (prev: Column, run: Column, bestCnt: Column,
          bestLen: Column, dup: Column) => {
        val better = run > bestCnt ||
          (run === bestCnt && glen(prev) > bestLen)
        struct(when(better, run).otherwise(bestCnt).as("bestCnt"),
          when(better, glen(prev)).otherwise(bestLen).as("bestLen"),
          (dup + when(run >= 2L, run * glen(prev)).otherwise(0L)).as("dup"))
      }
      val folded = aggregate(array_sort(grams(n)), z,
        (acc, t) => {
          val prev = acc.getField("prev"); val run = acc.getField("run")
          val closed = close(prev, run, acc.getField("bestCnt"),
            acc.getField("bestLen"), acc.getField("dup"))
          when(prev.isNull,
            struct(t.as("prev"), lit(1L).as("run"), lit(0L).as("bestCnt"),
              lit(0L).as("bestLen"), lit(0L).as("dup")))
            .when(t === prev,
              struct(t.as("prev"), (run + 1L).as("run"),
                acc.getField("bestCnt").as("bestCnt"),
                acc.getField("bestLen").as("bestLen"),
                acc.getField("dup").as("dup")))
            .otherwise(struct(t.as("prev"), lit(1L).as("run"),
              closed.getField("bestCnt").as("bestCnt"),
              closed.getField("bestLen").as("bestLen"),
              closed.getField("dup").as("dup")))
        },
        acc => when(acc.getField("prev").isNull,
          struct(lit(0L).as("top"), lit(0L).as("dup")))
          .otherwise {
            val closed = close(acc.getField("prev"), acc.getField("run"),
              acc.getField("bestCnt"), acc.getField("bestLen"),
              acc.getField("dup"))
            struct((closed.getField("bestCnt") * closed.getField("bestLen"))
              .as("top"), closed.getField("dup").as("dup"))
          })
      folded
    }
    val frac = (mass: Column) =>
      when(col("n_token_chars") > 0L,
        round(mass.cast("double") / col("n_token_chars"), 6))
    df.select(idCol.as("doc_id"), totChars.as("n_token_chars"),
        masses(2).getField("top").as("t2"),
        masses(3).getField("top").as("t3"),
        masses(4).getField("top").as("t4"),
        masses(5).getField("dup").as("d5"),
        masses(10).getField("dup").as("d10"))
      .select(col("doc_id"), col("n_token_chars"),
        frac(col("t2")).as("top2_frac"), frac(col("t3")).as("top3_frac"),
        frac(col("t4")).as("top4_frac"), frac(col("d5")).as("dup5_frac"),
        frac(col("d10")).as("dup10_frac"))
  }

  /** Zipf-fit diagnostic over the top-k vocabulary: least-squares slope /
    * intercept of ln(freq) ~ ln(rank+1) — natural text sits near slope −1;
    * a corpus drifting toward 0 (flat) or below −1.5 (degenerate) signals
    * template spam or collapsed diversity (Zipf 1949; common corpus-health
    * probe).  Output: one row (n_terms, slope, intercept), 6 dp.
    *
    * Exactness: ln values are integerized to MILLI-units (micro-units
    * would push n·Σx² past 2⁶³ at k=1000) and the five regression sums
    * are exact 64-bit integers, so the closed-form slope/intercept are
    * single double expressions over identical integers in both engines —
    * no accumulation-order drift, unlike `regr_slope`.  Data side is
    * [[vocabTopK]]: map-side combine + TakeOrdered, ≤ k rows collected. */
  def zipfFit(df: DataFrame, text: Column, k: Int): DataFrame = {
    val v = vocabTopK(df, text, k)
      .select(floor(log(col("rank").cast("double") + 1.0) * 1e3)
          .cast("long").as("x6"),
        floor(log(col("cnt").cast("double")) * 1e3).cast("long").as("y6"))
    v.agg(count(lit(1)).as("n"), sum("x6").as("sx"), sum("y6").as("sy"),
        sum(col("x6") * col("y6")).as("sxy"),
        sum(col("x6") * col("x6")).as("sxx"))
      .select(col("n").as("n_terms"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope_raw"),
        col("n"), col("sx"), col("sy"))
      .select(col("n_terms"), round(col("slope_raw"), 6).as("slope"),
        round((col("sy").cast("double") / 1e3 -
          col("slope_raw") * col("sx").cast("double") / 1e3) /
          col("n").cast("double"), 6).as("intercept"))
  }

  /** Flesch reading-ease readability card per document: word, sentence,
    * and syllable counts plus the classic score
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`.
    * Syllables use the standard deterministic heuristic — one syllable per
    * maximal vowel group `[aeiouy]+` in the lowercased text; sentences are
    * maximal `[.!?]+` runs, floored at 1 so fragments still score.  The
    * score is null for wordless documents and 6-dp rounded.
    *
    * All three counts are codegen'd regexp/split expressions over the scan
    * — a pure narrow map, no shuffle, no UDF; the regexes are in the
    * Java∩RE2 dialect so the DuckDB oracle evaluates the identical
    * formula. */
  /** Jensen-Shannon divergence between two corpora's hashed-unigram
    * distributions — the drift/mixture monitor: 0 = identical token
    * mixes, ln 2 ≈ 0.693 = disjoint.  Tokens hash into `buckets` buckets
    * (the [[tokenBucket]] convention shared with DSIR), so the model is
    * O(buckets) regardless of vocabulary and the only shuffles are two
    * bucket-count aggregates with map-side combine — each corpus is
    * scanned once, narrow.
    *
    * Exactness: bucket counts are exact integers; each bucket's JS term
    * is one fixed double expression over those integers, integerized to
    * nano-units BEFORE the final sum — summation order cannot drift the
    * result.  Output (one row): js_nats (6-dp), n_buckets (occupied),
    * tokens_a, tokens_b. */
  def jsDivergence(dfA: DataFrame, textA: Column, dfB: DataFrame,
      textB: Column, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    def bucketCounts(df: DataFrame, text: Column, out: String): DataFrame =
      df.select(explode(tokens(text)).as("tok"))
        .groupBy(tokenBucket(col("tok"), buckets).as("b"))
        .agg(count(lit(1)).as(out))
    val j = bucketCounts(dfA, textA, "ca")
      .join(bucketCounts(dfB, textB, "cb"), Seq("b"), "full")
      .na.fill(0L, Seq("ca", "cb"))
    val tot = j.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val p = col("ca").cast("double") / col("na")
    val q = col("cb").cast("double") / col("nb")
    val m = (p + q) / 2
    val term = when(col("ca") > 0, lit(0.5) * p * log(p / m)).otherwise(0.0) +
      when(col("cb") > 0, lit(0.5) * q * log(q / m)).otherwise(0.0)
    j.crossJoin(broadcast(tot))
      .select(floor(term * 1e9).cast("long").as("t9"),
        col("na"), col("nb"))
      .agg(round(sum("t9").cast("double") / 1e9, 6).as("js_nats"),
        count(lit(1)).as("n_buckets"),
        max("na").as("tokens_a"), max("nb").as("tokens_b"))
  }

  /** Per-group Jensen-Shannon drift: each group's hashed-unigram
    * distribution vs the REST of the corpus — the per-source/per-snapshot
    * drift dashboard behind mixture decisions ([[jsDivergence]] is the
    * two-corpus primitive; this is its one-vs-rest sweep).
    *
    * ONE corpus-scale shuffle (the (group, bucket) count with map-side
    * combine; ≤ |groups|·buckets rows); bucket/group totals, the dense
    * (group × occupied-bucket) spine, and the nano-unit term sums all
    * derive from that small table.  Same exactness contract as
    * [[jsDivergence]].  Output: (group, tokens, js_nats) per group. */
  def jsDriftByGroup(df: DataFrame, text: Column, group: Column,
      buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val tb = graft.core.CacheScope.persist(
      df.select(group.as("g"), explode(tokens(text)).as("tok"))
        .groupBy(col("g"), tokenBucket(col("tok"), buckets).as("b"))
        .agg(count(lit(1)).as("c")),
      eager = false)
    val bt = tb.groupBy("b").agg(sum("c").as("tb"))
    val gt = tb.groupBy("g").agg(sum("c").as("ng"))
    val nn = gt.agg(sum("ng").as("nn"))
    val spine = gt.crossJoin(broadcast(nn)).crossJoin(broadcast(bt))
      .join(tb, Seq("g", "b"), "left")
      .na.fill(0L, Seq("c"))
    val p = col("c").cast("double") / col("ng")
    val q = (col("tb") - col("c")).cast("double") / (col("nn") - col("ng"))
    val m = (p + q) / 2
    val term =
      when(col("c") > 0, lit(0.5) * p * log(p / m)).otherwise(0.0) +
      when(col("tb") - col("c") > 0, lit(0.5) * q * log(q / m)).otherwise(0.0)
    spine
      .select(col("g"), col("ng"), floor(term * 1e9).cast("long").as("t9"))
      .groupBy("g")
      .agg(max("ng").as("tokens"),
        round(sum("t9").cast("double") / 1e9, 6).as("js_nats"))
      .withColumnRenamed("g", "group")
  }

  def readability(df: DataFrame, text: Column, id: Column): DataFrame = {
    val t = lower(coalesce(text, lit("")))
    val nW = size(tokens(coalesce(text, lit("")))).cast("long")
    val nS = greatest(lit(1L),
      size(regexp_extract_all(t, lit("[.!?]+"), lit(0))).cast("long"))
    val nSyl = size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))
      .cast("long")
    df.select(id.as("doc_id"), nW.as("n_words"), nS.as("n_sentences"),
        nSyl.as("n_syllables"))
      .withColumn("flesch", when(col("n_words") > 0,
        round(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables").cast("double") / col("n_words")),
          6)))
  }

  /** Lexical top-k by distinct-token overlap — the sparse side of hybrid
    * retrieval (the dense side is [[graft.ops.SimilarityOps.bruteTopK]];
    * [[graft.ops.SimilarityOps.rrfFuse]] combines them).  overlap(q, d) =
    * |tokens(q) ∩ tokens(d)| over whitespace [[tokens]], candidates ranked
    * per query by (overlap desc, id asc), zero-overlap candidates never
    * materialize.
    *
    * Scale shape: the query side (exploded distinct tokens of a
    * catalog-sized query set) is broadcast, so the corpus never shuffles
    * for the match — only the (query, candidate) overlap counts do, and
    * that set is bounded by matches, not by |corpus|·|queries|.  Integer
    * counts end to end. */
  def tokenOverlapTopK(corpus: DataFrame, id: Column, text: Column,
      queries: DataFrame, qid: Column, qtext: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val ct = corpus.select(id.as("neighbor_id"),
      explode(array_distinct(tokens(text))).as("tok"))
    val qt = queries.select(qid.as("query_id"),
      explode(array_distinct(tokens(qtext))).as("tok"))
    val ov = ct.join(broadcast(qt), "tok")
      .where(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(count(lit(1)).as("overlap"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("overlap").desc, col("neighbor_id"))
    ov.withColumn("rank", row_number().over(w) - 1)
      .where(col("rank") < k)
  }

  /** BM25 retrieval scoring of the corpus against a fixed term set (the
    * Robertson/Spärck-Jones ranking function — the lexical retriever behind
    * hard-negative mining and RAG candidate generation), top-k docs by
    * score.
    *
    * Per-term contribution: `idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * with `idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)` (the +1 keeps idf
    * positive).  Corpus statistics `N`/`avgdl` are one tiny aggregate,
    * broadcast; `df` is one row per query term, broadcast.  The only
    * corpus-wide shuffle is the (doc, term) tf aggregate, whose input is
    * pre-filtered to the query terms — corpus tokens that match nothing
    * never shuffle.  Per-doc summation is nano-unit fixed point (longs), so
    * the score is immune to partial-aggregation order; the top-k is a
    * TakeOrdered, not a global sort.  `avgdl` uses whitespace [[tokens]]. */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && k > 0, "terms and k must be non-empty/positive")
    val spark = docs.sparkSession
    val base = docs.select(id.as("doc_id"), tokens(text).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("total_dl"))
    val hits = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .where(col("tok").isin(terms: _*))
    val tf = hits.groupBy("doc_id", "dl", "tok")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(df), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("total_dl").cast("double") / col("n_docs").cast("double"))
      // idf is floored to 9 dp BEFORE use: ln() is libm, not IEEE-mandated,
      // so its last ulp may differ across engines — everything downstream
      // of this fixed-point value is exact-literal +,*,/ and reproducible
      .withColumn("idf",
        floor(log((col("n_docs").cast("double") - col("df").cast("double")
            + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)) * lit(1e9))
          .cast("long").cast("double") / lit(1e9))
      .withColumn("c",
        floor(col("idf") *
          ((col("tf").cast("double") * lit(k1 + 1.0)) /
            (col("tf").cast("double") +
              lit(k1) * (lit(1.0 - b) +
                lit(b) * (col("dl").cast("double") / col("avgdl"))))) *
          lit(1e9)).cast("long"))
    contrib.groupBy("doc_id")
      .agg((sum("c").cast("double") / lit(1e9)).as("score"))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** Vocabulary-coverage curve: the smallest frequency-ranked vocabulary
    * size whose cumulative token mass reaches each coverage target — the
    * "how big a vocab covers 95 % of the corpus" sizing card behind
    * tokenizer budgets and OOV-rate predictions.
    *
    * Token counts are one map-side-combinable aggregate; the count-desc
    * ranking and running mass use [[graft.core.Ranker]]'s range-partitioned
    * rank + two-phase exact cumsum — NO single-partition window even at a
    * 100 TB corpus's vocabulary.  Thresholds are `ceil(p·total)` with the
    * division-free integer compare, one conditional-min aggregate for all
    * targets at once. */
  def vocabCoverage(docs: DataFrame, text: Column,
      targets: Seq[Double]): DataFrame = {
    require(targets.nonEmpty && targets.forall(p => p > 0.0 && p <= 1.0),
      "targets must be in (0, 1]")
    val counts = docs.select(explode(tokens(text)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val ranked = graft.core.Ranker.withRank(counts, "__r",
      col("cnt").desc, col("tok"))
    val (cum, total) = graft.core.Ranker.withCumsumLongAndTotal(
      ranked, "__r", col("cnt"), "__cum")
    val aggCols = targets.zipWithIndex.map { case (p, i) =>
      min(when(col("__cum") >= ceil(lit(p) * lit(total)).cast("long"),
        col("__r") + 1)).as(s"v$i")
    }
    cum.agg(aggCols.head, aggCols.tail: _*)
      .select(explode(array(targets.zipWithIndex.map { case (p, i) =>
        struct(lit(p).as("target"), col(s"v$i").as("vocab_size"))
      }: _*)).as("e"))
      .select(col("e.target"), col("e.vocab_size"))
  }

  /** Per-group character-class profile: fractions of lowercase-letter,
    * digit, whitespace, and other characters — the charset/mojibake gauge
    * (a prose corpus is letter-dominated; binary payloads and table dumps
    * shift mass into `other`).  Classes are ASCII regexes with identical
    * semantics in every engine; counts are exact longs from ONE map-side-
    * combinable aggregate, fractions are single double divisions at 6 dp. */
  def scriptProfile(docs: DataFrame, text: Column, group: Column): DataFrame = {
    val lowered = lower(text)
    def cnt(cls: String) =
      length(regexp_replace(lowered, cls, ""))
    val base = docs.select(group.as("grp"),
      length(text).cast("long").as("total"),
      (length(text) - cnt("[a-z]")).cast("long").as("letters"),
      (length(text) - cnt("[0-9]")).cast("long").as("digits"),
      (length(text) - cnt("[ \\t\\n]")).cast("long").as("spaces"))
    base.groupBy("grp")
      .agg(sum("total").as("total"), sum("letters").as("letters"),
        sum("digits").as("digits"), sum("spaces").as("spaces"))
      .select(col("grp"), col("total"),
        round(col("letters").cast("double") / col("total").cast("double"), 6)
          .as("letter_frac"),
        round(col("digits").cast("double") / col("total").cast("double"), 6)
          .as("digit_frac"),
        round(col("spaces").cast("double") / col("total").cast("double"), 6)
          .as("space_frac"),
        round((col("total") - col("letters") - col("digits") - col("spaces"))
          .cast("double") / col("total").cast("double"), 6).as("other_frac"))
  }

  /** Chi-square keyness: the tokens that most distinguish a focus slice
    * from the rest of the corpus (χ² on the 2×2 token/slice contingency
    * table) — corpus forensics for "what is this source actually full
    * of?" and the term-level complement of the distributional JS-drift
    * monitor.
    *
    * One token-count aggregate keyed by (token, in-focus) carries the
    * corpus' only shuffle; the 2×2 arithmetic runs per token with the
    * squared term and the four-margin product in decimal(38,0) (token ×
    * corpus products overflow longs at scale), one double division at the
    * end.  Top-k by the ROUNDED χ² with token tiebreak, so the ordering is
    * engine-identical. */
  def keyness(docs: DataFrame, text: Column, inFocus: Column,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = docs.select(inFocus.as("f"), explode(tokens(text)).as("tok"))
    val counts = toks.groupBy("tok")
      .agg(sum(when(col("f"), 1L).otherwise(0L)).as("a"),
        sum(when(col("f"), 0L).otherwise(1L)).as("b"))
    val tots = counts.agg(sum("a").as("ta"), sum("b").as("tb"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    counts.crossJoin(broadcast(tots))
      .withColumn("c", col("ta") - col("a"))
      .withColumn("dd", col("tb") - col("b"))
      .withColumn("det", d(col("a")) * col("dd") - d(col("b")) * col("c"))
      .withColumn("chi2", round(
        (d(col("ta") + col("tb")) * col("det") * col("det")).cast("double") /
          (d(col("a") + col("b")) * (col("c") + col("dd")) *
            (col("a") + col("c")) * (col("b") + col("dd"))).cast("double"),
        6))
      .select(col("tok"), col("a").as("n_focus"), col("b").as("n_rest"),
        col("chi2"))
      .orderBy(col("chi2").desc, col("tok")).limit(k)
  }

  // ---- unigram LM tokenizer (SentencePiece-style, hard-EM) ----------

  /** Deterministic Viterbi segmentation of one word under a unigram
    * piece model: maximizes the summed piece log-probs; characters the
    * model has never seen segment as single-char pieces at `unkLogProb`
    * (total coverage — tokenization is LOSSLESS by construction).  Ties
    * prefer the LONGER final piece (smaller split point) — fully
    * deterministic, partitioning-immune.
    *
    * Positions are CODE POINTS, not UTF-16 chars (the [[codePointSplit]]
    * rule): a charAt-indexed DP would emit lone surrogates as unk
    * pieces, which UTF8String conversion replaces — corrupting the
    * round trip on any emoji — and would disagree with Spark SQL's
    * code-point `substring`/`length` used by the distributed trainer. */
  private[ops] def unigramViterbi(word: String,
      vocab: java.util.HashMap[String, java.lang.Double],
      maxPieceLen: Int, unkLogProb: Double): Array[String] = {
    if (word.isEmpty) return Array.empty
    val offs = cpOffsets(word)
    val n = offs.length - 1
    val dp = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    dp(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        val piece = word.substring(offs(j), offs(i))
        val lp = vocab.get(piece)
        val score =
          if (lp != null) dp(j) + lp.doubleValue()
          else if (i - j == 1) dp(j) + unkLogProb // unseen cp fallback
          else Double.NegativeInfinity
        // strict > keeps the FIRST (smallest j = longest piece) winner
        if (score > dp(i)) { dp(i) = score; back(i) = j }
        j += 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var k = n
    while (k > 0) {
      val j = back(k); out += word.substring(offs(j), offs(k)); k = j
    }
    out.reverseIterator.toArray
  }

  /** offs(k) = UTF-16 index of the k-th code point; offs(n) = length. */
  private def cpOffsets(word: String): Array[Int] = {
    val b = new scala.collection.mutable.ArrayBuffer[Int](word.length + 1)
    var p = 0
    while (p < word.length) {
      b += p; p += Character.charCount(word.codePointAt(p))
    }
    b += word.length
    b.toArray
  }

  private def unigramMap(vocab: Seq[(String, Double)]) = {
    val m = new java.util.HashMap[String, java.lang.Double]()
    vocab.foreach { case (p, lp) => m.put(p, lp) }
    m
  }

  /** Train a unigram-LM subword vocabulary (Kudo 2018, "Subword
    * Regularization" — the SentencePiece unigram model) with HARD EM
    * (Viterbi counts), fully deterministic: seed with the corpus's most
    * frequent substrings (every single character kept — coverage),
    * alternate Viterbi-segment / re-estimate, then prune to `vocabSize`
    * keeping the highest-usage pieces (ties lexicographic) and
    * re-estimate once more.
    *
    * Physical shape — the [[bpeTrain]] discipline: ONE corpus-wide
    * shuffle builds the (word, cnt) histogram; while it fits the driver
    * (`maxDriverWords`, the common case — vocabulary grows ~Heaps-law)
    * training runs locally in milliseconds.  Beyond the gate every EM
    * round is one distributed explode-Viterbi + piece-count aggregation
    * over the cached word table (the vocab itself is `vocabSize` rows —
    * always driver-sized), so no stage ever touches the corpus twice.
    * Returns (piece, logProb) sorted by piece. */
  def unigramTrain(df: DataFrame, text: Column, vocabSize: Int,
      maxPieceLen: Int = 8, emIters: Int = 3,
      maxDriverWords: Long = 2000000L): Seq[(String, Double)] = {
    require(vocabSize > 0 && maxPieceLen >= 1 && emIters >= 1)
    val spark = df.sparkSession
    val words = graft.core.CacheScope.persist(
      df.select(explode(tokens(text)).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt")),
      eager = false)
    import spark.implicits._
    if (words.count() <= maxDriverWords)
      return unigramTrainLocal(
        words.as[(String, Long)].collect(), vocabSize, maxPieceLen, emIters)
    // distributed path: substring seeding + per-round Viterbi counts
    val subs = words.select(explode(sequence(lit(1),
        least(length(col("w")), lit(maxPieceLen)))).as("l"),
        col("w"), col("cnt"))
      .select(explode(expr(
        "transform(sequence(0, length(w) - l), i -> substring(w, i + 1, l))"))
        .as("piece"), col("cnt"))
      .groupBy("piece").agg(sum("cnt").as("c"))
    val chars = subs.where(length(col("piece")) === 1)
    val multi = subs.where(length(col("piece")) > 1)
      .orderBy(col("c").desc, col("piece"))
      .limit(math.max(vocabSize * 4, vocabSize))
    var vocab: Seq[(String, Double)] = normalized(
      (chars.unionByName(multi)).as[(String, Long)].collect())
    (1 to emIters).foreach { _ =>
      vocab = emRoundDistributed(words, vocab, maxPieceLen)
    }
    vocab = pruneVocab(vocab, vocabSize)
    emRoundDistributed(words, vocab, maxPieceLen).sortBy(_._1)
  }

  private def normalized(cnts: Seq[(String, Long)]): Seq[(String, Double)] = {
    val total = math.max(cnts.map(_._2).sum, 1L).toDouble
    cnts.map { case (p, c) =>
      p -> math.log(math.max(c, 1L) / total) }
  }

  /** One distributed hard-EM round: Viterbi-segment every word under the
    * broadcast vocab, aggregate piece usage, re-normalize.  Unused
    * multi-cp pieces drop; single code points always survive (coverage).
    * The round's broadcast is destroyed after the eager collect — EM
    * loops would otherwise accumulate one dead vocab copy per round. */
  private def emRoundDistributed(words: DataFrame,
      vocab: Seq[(String, Double)], maxPieceLen: Int): Seq[(String, Double)] = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(unigramMap(vocab))
    try {
      val seg = udf { (w: String) =>
        unigramViterbi(w, bc.value, maxPieceLen, UnkLogProb) }
      val used = words.select(explode(seg(col("w"))).as("piece"), col("cnt"))
        .groupBy("piece").agg(sum("cnt").as("c"))
        .as[(String, Long)].collect()
      reestimate(vocab, used)
    } finally bc.destroy()
  }

  private val UnkLogProb = -1e4

  /** One CODE POINT (the coverage unit — UTF-16 length lies for
    * supplementary chars). */
  private def isSingleCp(p: String): Boolean =
    p.nonEmpty && p.codePointCount(0, p.length) == 1

  /** M-step: piece log-probs from usage counts; unused multi-cp pieces
    * drop, single code points persist at a floor count of 1
    * (coverage). */
  private def reestimate(vocab: Seq[(String, Double)],
      used: Seq[(String, Long)]): Seq[(String, Double)] = {
    val cnt = used.toMap
    val kept = vocab.map(_._1).distinct.flatMap { p =>
      val c = cnt.getOrElse(p, 0L)
      if (c > 0) Some(p -> c)
      else if (isSingleCp(p)) Some(p -> 1L)
      else None
    }
    normalized(kept)
  }

  private def pruneVocab(vocab: Seq[(String, Double)],
      vocabSize: Int): Seq[(String, Double)] = {
    val (chars, multi) = vocab.partition(v => isSingleCp(v._1))
    val room = math.max(vocabSize - chars.size, 0)
    chars ++ multi.sortBy { case (p, lp) => (-lp, p) }.take(room)
  }

  private def unigramTrainLocal(wordCnt: Array[(String, Long)],
      vocabSize: Int, maxPieceLen: Int, emIters: Int): Seq[(String, Double)] = {
    // seed: substring counts over CODE POINTS (all single code points +
    // top multi-cp), matching the distributed path's Spark SQL
    // substring/length semantics
    val seedCnt = new java.util.HashMap[String, Long]()
    wordCnt.foreach { case (w, c) =>
      val offs = cpOffsets(w)
      val n = offs.length - 1
      var l = 1
      while (l <= math.min(maxPieceLen, n)) {
        var i = 0
        while (i + l <= n) {
          val p = w.substring(offs(i), offs(i + l))
          seedCnt.merge(p, c, (a, b) => a + b)
          i += 1
        }
        l += 1
      }
    }
    import scala.jdk.CollectionConverters._
    val all = seedCnt.asScala.toSeq
    val chars = all.filter(p => isSingleCp(p._1))
    val multi = all.filterNot(p => isSingleCp(p._1))
      .sortBy { case (p, c) => (-c, p) }
      .take(math.max(vocabSize * 4, vocabSize))
    var vocab = normalized(chars ++ multi)
    def emRound(v: Seq[(String, Double)]): Seq[(String, Double)] = {
      val m = unigramMap(v)
      val usage = new java.util.HashMap[String, Long]()
      wordCnt.foreach { case (w, c) =>
        unigramViterbi(w, m, maxPieceLen, UnkLogProb)
          .foreach(p => usage.merge(p, c, (a, b) => a + b))
      }
      reestimate(v, usage.asScala.toSeq)
    }
    (1 to emIters).foreach(_ => vocab = emRound(vocab))
    vocab = pruneVocab(vocab, vocabSize)
    emRound(vocab).sortBy(_._1)
  }

  /** Unigram-LM subword tokenization: Viterbi best segmentation of each
    * whitespace word of the lowercased text under a trained
    * [[unigramTrain]] vocabulary (broadcast; narrow per-row kernel, no
    * shuffle).  Unseen characters pass through as single-char pieces,
    * so `concat(tokens) == concat(words)` ALWAYS — the lossless
    * round-trip the `text_unigram_tokens` oracle gates hash-exactly.
    * Output: (doc_id, tokens) in document order. */
  def unigramTokens(df: DataFrame, text: Column, idCol: Column,
      vocab: Seq[(String, Double)], maxPieceLen: Int = 8): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(unigramMap(vocab))
    val f = udf { (t: String) =>
      if (t == null) Array.empty[String]
      else WsPat.split(t.toLowerCase(java.util.Locale.ROOT)).iterator
        .filter(_.nonEmpty)
        .flatMap(w => unigramViterbi(w, bc.value, maxPieceLen, UnkLogProb))
        .toArray
    }
    DedupOps.parallelized(df)
      .select(idCol.as("doc_id"), f(text).as("tokens"))
  }

  /** Per-source document cap — the "≤ N pages per domain" step of a web
    * training corpus (over-represented domains otherwise dominate the
    * mixture): keep each source's top `maxPerSource` documents by
    * `quality` (descending), ties broken by ascending id (fully
    * deterministic).  One keyed window per SOURCE — partitioned by the
    * group key, never a single-partition sort; a pathologically hot
    * domain sorts only its own rows.  Output: the surviving rows with
    * their per-source rank. */
  def perSourceCap(df: DataFrame, source: Column, idCol: Column,
      quality: Column, maxPerSource: Int): DataFrame = {
    require(maxPerSource >= 1)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(source)
      .orderBy(quality.desc, idCol.asc)
    df.withColumn("src_rank", row_number().over(w))
      .where(col("src_rank") <= maxPerSource)
      .select(idCol.as("doc_id"), source.as("source"),
        quality.as("quality"), col("src_rank"))
  }

  /** Temperature-scaled source mixture (the multilingual-sampling
    * recipe, Conneau & Lample 2019 / mT5): a source with corpus share
    * p_i is sampled toward target share q_i ∝ p_i^alpha — alpha < 1
    * up-weights the tail, alpha = 1 is natural, alpha = 0 uniform.
    * Output per source: n docs, natural share, target share, and the
    * per-document resampling weight q_i/p_i a weighted sampler consumes
    * (all 6-dp rounded for cross-engine reproducibility).  One
    * map-side-combined count + a broadcast 1-row total — no second
    * corpus pass. */
  def sourceMixtureWeights(df: DataFrame, source: Column,
      alpha: Double): DataFrame = {
    require(alpha >= 0.0, "alpha must be >= 0")
    val counts = df.groupBy(source.as("source"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").as("__tot"),
      sum(pow(col("n").cast("double"), lit(alpha))).as("__ptot"))
    counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n"),
        round(col("n") / col("__tot"), 6).as("share"),
        round(pow(col("n").cast("double"), lit(alpha)) / col("__ptot"), 6)
          .as("target_share"),
        round((pow(col("n").cast("double"), lit(alpha)) / col("__ptot")) /
          (col("n") / col("__tot")), 6).as("resample_w"))
  }
}
