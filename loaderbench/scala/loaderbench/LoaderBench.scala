package loaderbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.Base64

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.ops.{DedupOps, SplitOps}

/** The JVM side of the benchmark: opens the generated inputs through the
  * engine's public API, runs one workload's epochs (or curation passes)
  * for a fixed time, and writes what it observed as raw JSON.  Reducing
  * that to metrics, and judging the outputs against the generator's
  * manifest, happens in `run.py`.
  *
  * Untraced runs time end to end: set-up, then `--warmup` untimed epochs,
  * then whole epochs until `--seconds` have passed.  Traced runs (`--trace
  * 1`) repeat, per epoch: an untraced full epoch, the same epoch under a
  * span, and prefix runs that each materialise one more layer with an
  * aggregate checksum over that layer's output columns, so that
  * consecutive prefixes differ by exactly one layer's work. */
object LoaderBench {
  val BatchSize = 64
  val FetchFactor = 16
  val Nnz = 64
  val CellCols = Seq("cell_id", "plate", "cell_line", "genes", "expressions")
  val NarrowCols = Seq("cell_id", "cell_line")

  final case class Conf(workload: String, input: String, work: String,
      out: String, spans: String, seed: Long, seconds: Double,
      trace: Boolean, cpus: Int, setupRepeats: Int, warmup: Int)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val conf = Conf(a("workload"), a("input"), a("work"), a("out"),
      a("spans"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("cpus").toInt, a("setup-repeats").toInt,
      a("warmup").toInt)
    val t0 = System.nanoTime
    val spark = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName("loaderbench")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> conf.workload, "session_s" -> secs(t0))
    val tracer = new Tracer(spark, conf.trace)
    tracer.listen(true)
    try {
      val w = conf.workload match {
        case "cells_shuffle_iter" => new CellsShuffleIter(spark, conf, tracer)
        case "cells_balanced_sink" => new CellsBalancedSink(spark, conf, tracer)
        case "corpus_curate" => new CorpusCurate(spark, conf, tracer)
        case other => sys.error(s"unknown workload $other")
      }
      w.run(res)
    } finally {
      val spans = tracer.spans()
      spark.stop()
      if (conf.trace)
        Files.writeString(Paths.get(conf.spans),
          spans.map(Json.render).mkString("", "\n", "\n"))
    }
    res("peak_rss_kb") = peakRssKb()
    Files.writeString(Paths.get(conf.out), Json.render(res))
  }

  def secs(t0: Long): Double = (System.nanoTime - t0) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = body
    (r, secs(t0))
  }

  /** The process's peak resident set (VmHWM), in kB. */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Count and xor of a row hash over every column of `df`.  Unlike
    * `count()`, which lets the optimizer prune every column a layer
    * derives, the hash forces each output column to be computed. */
  def checksum(df: DataFrame, tracer: Tracer): (Long, Long) = {
    tracer.attr("checksum_cols", df.columns.toSeq)
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head()
    tracer.attr("rows", r.getLong(0))
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def digest(ids: Array[Long], n: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) {
      buf.clear(); buf.putLong(ids(i)); md.update(buf.array()); i += 1
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def b64(bytes: Array[Byte]): String = Base64.getEncoder.encodeToString(bytes)

  def b64Longs(xs: Array[Long]): String = {
    val buf = ByteBuffer.allocate(8 * xs.length).order(ByteOrder.LITTLE_ENDIAN)
    xs.foreach(buf.putLong)
    b64(buf.array())
  }

  /** Label index from a generated label such as `plate_03` or `line_41`. */
  def labelIndex(s: String): Byte =
    ((s.charAt(s.length - 2) - '0') * 10 + (s.charAt(s.length - 1) - '0')).toByte

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Whole epochs `first`, `first+1`, ... until `seconds` have passed. */
  def timedLoop(seconds: Double, first: Int)(epoch: Int => Unit): Unit = {
    val t0 = System.nanoTime
    var e = first
    while (e == first || secs(t0) < seconds) { epoch(e); e += 1 }
  }
}

import LoaderBench._

abstract class Workload(val spark: SparkSession, val conf: Conf,
    val tracer: Tracer) {
  def run(res: mutable.LinkedHashMap[String, Any]): Unit

  /** Set-up repeated `setupRepeats` times, each under span `name`; `drop`
    * releases each attempt but the last, whose result is kept. */
  def repeatedSetup[T](res: mutable.LinkedHashMap[String, Any], name: String)(
      prepare: => T)(drop: T => Unit): T = {
    val times = mutable.ArrayBuffer[Double]()
    var kept: T = null.asInstanceOf[T]
    for (i <- 0 until conf.setupRepeats) {
      val (c, s) = time(tracer.span(name, run = i)(prepare))
      times += s
      if (i + 1 < conf.setupRepeats) drop(c) else kept = c
    }
    res("prepare_s") = times.toSeq
    kept
  }
}

/** Workload 1: a plate-sorted wide corpus opened as one ordered, cached
  * collection; BlockShuffling epochs drained through the prefetching
  * iterator by one closed-loop consumer. */
final class CellsShuffleIter(spark: SparkSession, conf: Conf, tracer: Tracer)
    extends Workload(spark, conf, tracer) {

  private def prepare(): ScCollection = {
    val plates = new File(conf.input).listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val parts = tracer.span("collection.fromParquet")(plates.map(f =>
      f.getName.stripSuffix(".parquet") -> spark.read.parquet(f.getPath)))
    val u = tracer.span("collection.union")(
      ScCollection.union(parts, Seq(col("cell_id"))))
    val c = tracer.span("collection.cached")(u.cached())
    tracer.span("collection.length")(c.length)
    c
  }

  /** One epoch through `toBatchesPrefetched`.  Per batch the consumer
    * records the batch's ids and plate labels and nothing more. */
  private def drain(ds: ScDataset, epoch: Int, n: Int): Map[String, Any] = {
    val expected = ds.batchCount.toInt
    val ids = new Array[Long](n)
    val labels = new Array[Byte](n)
    val sizes = mutable.ArrayBuffer[Int]()
    val waits = mutable.ArrayBuffer[Double]()
    var rows = 0
    var orderErrors = 0L
    var payloadErrors = 0L
    var first = 0.0
    var waitMax = 0.0
    var waitsOver10 = 0
    val t0 = System.nanoTime
    val it = ds.toBatchesPrefetched(epoch, CellCols)
    var asked = t0
    while (it.hasNext) {
      val batch = it.next()
      val got = System.nanoTime
      val b = sizes.length
      if (b == 0) first = (got - t0) / 1e9
      else {
        val w = (got - asked) / 1e6
        waits += w
        if (w > waitMax) waitMax = w
        if (w > 10.0) waitsOver10 += 1
      }
      if (batch.getLong(0) != b) orderErrors += 1
      val rs = batch.getSeq[Row](2)
      var i = 0
      rs.foreach { r =>
        if (r.getLong(0) != i) orderErrors += 1
        if (rows < n) {
          ids(rows) = r.getLong(1)
          labels(rows) = labelIndex(r.getString(2))
        }
        if (r.getSeq[Int](4).length != Nnz ||
            r.getSeq[Float](5).length != Nnz) payloadErrors += 1
        rows += 1
        i += 1
      }
      sizes += rs.length
      asked = System.nanoTime
    }
    val wall = secs(t0)
    tracer.attr("first_batch_s", first)
    tracer.attr("wait_ms_max", waitMax)
    tracer.attr("waits_over_10ms", waitsOver10)
    tracer.attr("rows", rows)
    val sorted = ids.clone()
    java.util.Arrays.sort(sorted)
    val permutation = rows == n && sorted.indices.forall(i => sorted(i) == i)
    Map("epoch" -> epoch, "wall_s" -> wall, "first_batch_s" -> first,
      "rows" -> rows, "batches" -> sizes.length, "expected_batches" -> expected,
      "order_errors" -> orderErrors, "payload_errors" -> payloadErrors,
      "permutation" -> permutation, "digest" -> digest(ids, math.min(rows, n)),
      "batch_wait_ms" -> waits.toSeq,
      "labels" -> b64(labels), "batch_sizes" -> sizes.toSeq)
  }

  def run(res: mutable.LinkedHashMap[String, Any]): Unit = {
    val coll = repeatedSetup(res, "collection.prepare")(prepare())(
      _.df.unpersist(blocking = true))
    val n = coll.length.toInt
    val strategy = BlockShuffling(blockSize = FetchFactor)
    val ds = ScDataset(coll, strategy, BatchSize, FetchFactor, seed = conf.seed)
    val epochs = mutable.ArrayBuffer[Map[String, Any]]()
    res("warmup") = (0 until conf.warmup).map(e => drain(ds, e, n))
    if (!conf.trace) {
      timedLoop(conf.seconds, conf.warmup)(e => epochs += drain(ds, e, n))
    } else {
      val untraced = mutable.ArrayBuffer[Double]()
      timedLoop(conf.seconds, conf.warmup) { e =>
        tracer.listen(false)
        untraced += drain(ds, e, n)("wall_s").asInstanceOf[Double]
        tracer.listen(true)
        tracer.span("epoch", run = e) {
          tracer.span("prefix.collection")(checksum(coll.df, tracer))
          tracer.span("prefix.strategy")(checksum(
            tracer.span("strategy.plan_call")(
              strategy.plan(coll, ds.epochSeed(e))), tracer))
          tracer.span("prefix.window")(checksum(ds.planFrame(e), tracer))
          tracer.span("prefix.assemble")(
            checksum(ds.toBatchFrame(e, CellCols), tracer))
          epochs += tracer.span("prefix.deliver")(drain(ds, e, n))
        }
      }
      res("untraced_wall_s") = untraced.toSeq
      res("cache_bytes") = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
    }
    res("epochs") = epochs.toSeq
    // entropy control: the same corpus in file order
    res("control") = drain(ScDataset(coll, Streaming(), BatchSize, FetchFactor,
      seed = conf.seed), 0, n)
    res("rows") = n
  }
}

/** Workload 2: the narrow corpus materialised once as parquet, then
  * class-balanced epochs written out by `writeBatches`. */
final class CellsBalancedSink(spark: SparkSession, conf: Conf,
    tracer: Tracer) extends Workload(spark, conf, tracer) {

  private val prepared = s"${conf.work}/prepared"

  private def prepare(): ScCollection = {
    val c = tracer.span("collection.fromParquet")(
      ScCollection.fromParquet(spark, s"${conf.input}/*.parquet", Seq("cell_id"),
        NarrowCols))
    val m = tracer.span("collection.materialize")(c.materialize(prepared))
    tracer.span("collection.length")(m.length)
    m
  }

  private def sinkDir(e: Int) = s"${conf.work}/sink/epoch_$e"

  /** Re-reads one written epoch: rows, batches and per-row labels. */
  private def reread(e: Int, expected: Long): Map[String, Any] = {
    val batches = spark.read.parquet(sinkDir(e))
      .select(col("batch_id"), col("n"), col("rows.cell_line").as("l"))
      .orderBy("batch_id").collect()
    val labels = mutable.ArrayBuilder.make[Byte]
    var orderErrors = 0L
    var countErrors = 0L
    batches.zipWithIndex.foreach { case (b, i) =>
      if (b.getLong(0) != i) orderErrors += 1
      val ls = b.getSeq[String](2)
      if (ls.length != b.getLong(1)) countErrors += 1
      ls.foreach(l => labels += labelIndex(l))
    }
    val ls = labels.result()
    deleteTree(new File(sinkDir(e)))
    Map("epoch" -> e, "rows" -> ls.length, "expected_rows" -> expected,
      "batches" -> batches.length, "order_errors" -> orderErrors,
      "count_errors" -> countErrors, "labels" -> b64(ls),
      "batch_sizes" -> batches.map(_.getLong(1)).toSeq)
  }

  def run(res: mutable.LinkedHashMap[String, Any]): Unit = {
    val coll = repeatedSetup(res, "collection.prepare")(prepare())(_ => ())
    val n = coll.length
    val strategy = ClassBalancedSampling(col("cell_line"), totalSize = n,
      blockSize = FetchFactor)
    val ds = ScDataset(coll, strategy, BatchSize, FetchFactor, seed = conf.seed)
    val walls = mutable.ArrayBuffer[(Int, Double)]()
    def write(e: Int): Double = time(ds.writeBatches(sinkDir(e), e, NarrowCols))._2
    res("warmup_wall_s") = (0 until conf.warmup).map { e =>
      val s = write(e)
      deleteTree(new File(sinkDir(e)))
      s
    }
    if (!conf.trace) {
      timedLoop(conf.seconds, conf.warmup)(e => walls += e -> write(e))
    } else {
      val untraced = mutable.ArrayBuffer[Double]()
      timedLoop(conf.seconds, conf.warmup) { e =>
        tracer.listen(false)
        untraced += write(e)
        tracer.listen(true)
        tracer.span("epoch", run = e) {
          tracer.span("prefix.collection")(checksum(coll.df, tracer))
          tracer.span("prefix.strategy")(checksum(
            tracer.span("strategy.plan_call")(
              strategy.plan(coll, ds.epochSeed(e))), tracer))
          tracer.span("prefix.window")(checksum(ds.planFrame(e), tracer))
          tracer.span("prefix.assemble")(
            checksum(ds.toBatchFrame(e, NarrowCols), tracer))
          walls += e -> tracer.span("prefix.sink") {
            val s = write(e)
            tracer.attr("files", new File(sinkDir(e)).listFiles
              .count(_.getName.endsWith(".parquet")))
            s
          }
        }
      }
      res("untraced_wall_s") = untraced.toSeq
    }
    val expected = strategy.outputLen(n)
    res("epochs") = walls.toSeq.map { case (e, s) =>
      reread(e, expected) + ("wall_s" -> s) + ("first_batch_s" -> s)
    }
    res("rows") = n
  }
}

/** Workload 3: exact then fuzzy dedup of a document corpus with planted
  * duplicates, then a seeded train/val/test split. */
final class CorpusCurate(spark: SparkSession, conf: Conf, tracer: Tracer)
    extends Workload(spark, conf, tracer) {
  private val text = col("text")
  private val id = col("doc_id")
  private val fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  private def prepare(): DataFrame = {
    val df = spark.read.parquet(s"${conf.input}/*.parquet").cache()
    df.count()
    df
  }

  /** One curation pass; returns the kept (doc_id, split) rows by id. */
  private def pass(corpus: DataFrame): (Array[Long], String) = {
    val ex = DedupOps.exactDedup(corpus, text, id)
    val fz = DedupOps.fuzzyDedup(ex, text, id)
    val kept = SplitOps.withSplit(fz, id, conf.seed, fractions)
      .select(col("doc_id"), col("split")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    CacheScope.release()
    val md = MessageDigest.getInstance("SHA-256")
    kept.foreach { case (d, s) => md.update(s"$d:$s\n".getBytes("UTF-8")) }
    (kept.map(_._1), md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  /** The pass again, one public call per span, each materialised. */
  private def stages(corpus: DataFrame): Unit = {
    val ex = tracer.span("ops.exactDedup") {
      val e = CacheScope.persist(DedupOps.exactDedup(corpus, text, id))
      checksum(e, tracer)
      e
    }
    val cand = tracer.span("ops.minhashCandidates") {
      val c = CacheScope.persist(DedupOps.minhashCandidates(ex, text, id))
      tracer.attr("pairs", c.count())
      c
    }
    val confirmed = tracer.span("ops.confirmJaccard") {
      val c = CacheScope.persist(DedupOps.confirmJaccard(ex, text, id, cand,
        minJaccard = 0.5))
      tracer.attr("pairs", c.count())
      c
    }
    tracer.span("ops.dedupClusters")(
      checksum(DedupOps.dedupClusters(confirmed), tracer))
    val fz = tracer.span("ops.fuzzyDedup") {
      val f = CacheScope.persist(
        DedupOps.fuzzyDedup(ex, text, id, candidates = Some(cand)))
      checksum(f, tracer)
      f
    }
    tracer.span("ops.withSplit")(
      checksum(SplitOps.withSplit(fz, id, conf.seed, fractions), tracer))
    CacheScope.release()
  }

  def run(res: mutable.LinkedHashMap[String, Any]): Unit = {
    val corpus = repeatedSetup(res, "corpus.read")(prepare())(
      _.unpersist(blocking = true))
    val n = corpus.count()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val (warmKept, warmDigest) = (0 until conf.warmup).map(_ => pass(corpus)).last
    def record(e: Int, kept: Array[Long], dg: String, s: Double) =
      passes += Map("epoch" -> e, "wall_s" -> s, "first_batch_s" -> s,
        "rows" -> n, "kept" -> kept.length, "digest" -> dg)
    if (!conf.trace) {
      timedLoop(conf.seconds, conf.warmup) { e =>
        val ((kept, dg), s) = time(pass(corpus))
        record(e, kept, dg, s)
      }
    } else {
      val untraced = mutable.ArrayBuffer[Double]()
      timedLoop(conf.seconds, conf.warmup) { e =>
        tracer.listen(false)
        untraced += time(pass(corpus))._2
        tracer.listen(true)
        tracer.span("epoch", run = e) {
          val ((kept, dg), s) = time(tracer.span("ops.pass")(pass(corpus)))
          record(e, kept, dg, s)
          stages(corpus)
        }
      }
      res("untraced_wall_s") = untraced.toSeq
    }
    res("epochs") = passes.toSeq
    res("warmup") = Map("digest" -> warmDigest, "kept" -> warmKept.length)
    res("kept_ids") = b64Longs(warmKept)
    res("rows") = n
  }
}
