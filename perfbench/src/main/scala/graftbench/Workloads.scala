package graftbench

import graft.TransferRunner
import graft.config._
import graft.functions.Dedup
import graft.model.{CdcEnvelope => E}
import graft.operators.{Collapse, Transformer, TransformerChain, Transformers}
import graft.parsers.Debezium
import graft.sinks.Sinks
import graft.sources.Readers
import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DecimalType

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload of the closed loop. The harness calls `setup` once, then
  * for each operation i = 0, 1, ...: `prepare` (untimed), `run` (the timed
  * operation), `reads` (point reads beside it, each timed by the
  * workload) and, in traced passes only, `prefix`. */
abstract class Workload(val spark: SparkSession, val seed: Long,
                        val dir: String, val tr: Tracer) {
  /** The timed region ends on a multiple of this many operations. */
  def cycle: Int = 1
  /** The timed region holds at least this many operations (a multiple of
    * `cycle`), so that its medians rest on enough samples. */
  def minOps: Int = 8
  /** The timed region ends here at the latest: the generated inputs last
    * this many operations after the warm-up. */
  def maxOps: Int = Int.MaxValue
  /** Operations in one traced pass. */
  def tracedOps: Int
  /** Generates inputs, preloads state and runs the warm-up operations. */
  def setup(): Unit
  /** More untimed operations after the last set-up, so that the timed
    * operations do not carry the JIT's warm-up trend. */
  def warmUp(): Unit = ()
  def prepare(i: Int): Unit = ()
  /** Runs operation i; returns the input rows it completed. */
  def run(i: Int): Long
  /** Point reads after operation i; returns their latencies in ms. */
  def reads(i: Int): Seq[Double] = Nil
  /** Prefix materializations of operation i's inputs (traced passes). */
  def prefix(i: Int): Unit = ()
  /** Parquet files currently held by the workload's outputs. */
  def outputFiles(): Set[String]
  /** Output checks; returns one message per failed check. */
  def check(): Seq[String]
  /** Layer metrics of a traced pass over operations 0 until `ops`. */
  def layers(rec: Recorder, ops: Int): Map[String, Double]
  /** Workload-specific per-operation counters that must repeat exactly. */
  def opCounters: Map[String, Double] = Map.empty
  def close(): Unit = ()

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Workload {
  val names: Seq[String] = Seq("snapshot_tableset", "cdc_replicate", "dedup_index")

  def apply(name: String, spark: SparkSession, seed: Long, dir: String,
            tr: Tracer): Workload = name match {
    case "snapshot_tableset" => new SnapshotWorkload(spark, seed, dir, tr)
    case "cdc_replicate" => new CdcWorkload(spark, seed, dir, tr)
    case "dedup_index" => new DedupWorkload(spark, seed, dir, tr)
  }

  /** Bytes of the regular files under `root`: what a scan of it reads. */
  def fileBytes(root: String): Double = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size(_).toDouble).sum
    finally s.close()
  }

  def parquetFiles(root: String): Set[String] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Sum of task counters over the jobs launched under `spans`. */
  def taskSum(rec: Recorder, spans: Seq[Span])(f: TaskRec => Long): Double =
    rec.tasksOf(spans.flatMap(rec.jobsIn)).map(f).sum.toDouble

  /** Seconds of the jobs that wrote output, and their driver-side commit. */
  def writeSecs(rec: Recorder, jobs: Seq[JobRec]): (Double, Double) = {
    val wrote = rec.tasks.filter(_.outBytes > 0).map(_.stageId).toSet
    val w = jobs.filter(_.stages.exists(wrote))
    (w.map(j => (j.endMs - j.startMs) / 1e3).sum, rec.commitSecs(w))
  }
}

/** SNAPSHOT_ONLY activation of the whole table set: every table through
  * `TransferRunner.runSnapshot`, Parquet to Parquet with `Drop` cleanup,
  * a `FilterRows` on `lineitem` and HMAC `MaskField` on the PII names. */
final class SnapshotWorkload(spark: SparkSession, seed: Long, dir: String,
                             tr: Tracer) extends Workload(spark, seed, dir, tr) {
  import Workload._
  private val src = s"$dir/src"
  private val dst = s"$dir/dst"
  private val salt = "graftbench-salt"
  private val tables = Gen.snapshotSizes.map(_._1)
  private val rowsPerOp = Gen.snapshotSizes.map(_._2).sum
  def tracedOps: Int = 3

  private def chain(t: String): Seq[Transformer] = t match {
    case "lineitem" => Seq(Transformers.FilterRows(Seq("l_quantity > 10")))
    case "customer" => Seq(Transformers.MaskField(Seq("c_name"), salt))
    case "supplier" => Seq(Transformers.MaskField(Seq("s_name"), salt))
    case _ => Nil
  }
  private def transfer(t: String) = Transfer(TransferType.SnapshotOnly,
    SourceConfig.Parquet(s"$src/$t"), SinkConfig.Parquet(s"$dst/$t"), chain(t),
    cleanup = Sinks.Drop)

  def setup(): Unit = {
    Gen.snapshotTables(spark, seed, src)
    tr.atOp(-1)
    run(-1)
  }

  override def minOps: Int = 10

  override def warmUp(): Unit = (1 to 4).foreach(w => run(-1 - w))

  def run(i: Int): Long = {
    tr.span("TransferRunner", "activation") {
      tables.foreach { t =>
        tr.span("TransferRunner", s"runSnapshot.$t") {
          TransferRunner.runSnapshot(spark, transfer(t), t)
        }
      }
    }
    rowsPerOp
  }

  override def prefix(i: Int): Unit = tables.foreach { t =>
    val cfg = transfer(t).source
    tr.span("sources", s"source.$t", "prefix") {
      noop(TransferRunner.source(spark, cfg))
    }
    tr.span("operators", s"chain.$t", "prefix") {
      noop(TransformerChain(chain(t))(TransferRunner.source(spark, cfg), t))
    }
  }

  def outputFiles(): Set[String] = parquetFiles(dst)

  // the expected target, computed from the source with the benchmark's
  // own filter and HMAC-SHA256, not through the transformer chain
  private val hmac = {
    val key = salt.getBytes("UTF-8")
    udf { (v: String) =>
      if (v == null) null
      else {
        val mac = javax.crypto.Mac.getInstance("HmacSHA256")
        mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
        mac.doFinal(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
    }
  }
  private def expected(t: String): DataFrame = {
    val df = spark.read.parquet(s"$src/$t")
    t match {
      case "lineitem" => df.filter(col("l_quantity") > 10)
      case "customer" => df.withColumn("c_name", hmac(col("c_name")))
      case "supplier" => df.withColumn("s_name", hmac(col("s_name")))
      case _ => df
    }
  }
  /** Row count and an order-independent digest over every column. */
  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.sorted.map(col): _*)
      .cast(DecimalType(38, 0)))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  def check(): Seq[String] = tables.flatMap { t =>
    val want = digest(expected(t))
    val got = digest(spark.read.parquet(s"$dst/$t"))
    if (got == want) None else Some(s"$t: target (rows, digest) $got, expected $want")
  }

  def layers(rec: Recorder, ops: Int): Map[String, Double] = {
    val runs = rec.spansOf("op", "TransferRunner")
      .filter(s => s.op >= 0 && s.name.startsWith("runSnapshot"))
    val pre = rec.spansOf("prefix").filter(_.op >= 0)
    val srcS = pre.filter(_.layer == "sources").map(_.secs).sum
    val chainS = pre.filter(_.layer == "operators").map(_.secs).sum
    val runS = runs.map(_.secs).sum
    val jobs = runs.flatMap(rec.jobsIn)
    val (_, commit) = writeSecs(rec, jobs)
    Map(
      "sources.read_s" -> srcS / ops,
      "operators.chain_s" -> (chainS - srcS) / ops,
      "sinks.write_s" -> (runS - chainS) / ops,
      "sources.bytes_read" -> fileBytes(src),
      "sources.records_read" -> taskSum(rec, runs)(_.inRecs) / ops,
      "operators.rows_in" -> taskSum(rec, runs)(_.inRecs) / ops,
      "operators.rows_out" -> taskSum(rec, runs)(_.outRecs) / ops,
      "sinks.bytes_written" -> taskSum(rec, runs)(_.outBytes) / ops,
      "sinks.commit_s" -> commit / ops)
  }
}

/** INCREMENT_ONLY replication: Debezium JSON spool files through
  * `Readers.fileQueueStream` → `Debezium.receive` → `CdcStream.replicate`
  * into a preloaded bucketed state, with `CdcStream.lookup` reads of keys
  * each batch touched. */
final class CdcWorkload(spark: SparkSession, seed: Long, dir: String,
                        tr: Tracer) extends Workload(spark, seed, dir, tr) {
  import Workload._
  private val gen = new CdcGen(seed)
  private val pks = Seq(Gen.cdcKey)
  private val state = s"$dir/state"
  private val spool = s"$dir/spool"
  private val topic = "orders"
  private val staging = Paths.get(dir, "staging")
  private val warmups = 2
  private var query: StreamingQuery = _
  private var nextBatch = 0
  /** Per operation: the spool file, the keys it touched, its events. */
  private val batches = mutable.Map.empty[Int, (Path, Seq[Long], Int)]
  private val lookupFailures = mutable.ArrayBuffer.empty[String]
  private val bucketsBefore = mutable.Map.empty[Int, Map[String, Set[String]]]
  private val rewritten = mutable.Map.empty[Int, Int]
  private val collapsed = mutable.Map.empty[Int, Long]
  override def cycle: Int = Gen.cdcCycle
  override def minOps: Int = 2 * Gen.cdcCycle
  def tracedOps: Int = Gen.cdcCycle

  def setup(): Unit = {
    val rows = gen.preload()
    CdcStream.mergeBatch(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), Gen.cdcSchema), state, pks)
    Files.createDirectories(Paths.get(spool, topic))
    Files.createDirectories(staging)
    val stream = Debezium.receive(Readers.fileQueueStream(spark, spool, topic),
      "value", Gen.cdcSchema)
    query = CdcStream.replicate(stream, state, s"$dir/checkpoint", pks,
      CdcStream.Bufferer(interval = None)).start()
    tr.atOp(-1)
    (1 to warmups).foreach { w => prepare(-w); run(-w); reads(-w) }
  }

  /** One more cycle of batches with their reads: the first cycle after
    * set-up ran 20-25% slower than the next. */
  override def warmUp(): Unit =
    (1 to Gen.cdcCycle).map(-warmups - _).foreach { w => prepare(w); run(w); reads(w) }

  override def prepare(i: Int): Unit = {
    val b = nextBatch
    nextBatch += 1
    val (lines, touched) = gen.batch(b)
    val f = staging.resolve(f"$b%06d.json")
    Files.write(f, lines.asJava)
    batches(i) = (f, touched, lines.size)
    if (tr.enabled) bucketsBefore(i) = buckets()
  }

  def run(i: Int): Long = {
    val (staged, _, events) = batches(i)
    tr.span("streaming", "replicate.commit") {
      Files.move(staged, spooled(i), StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    }
    events
  }

  override def reads(i: Int): Seq[Double] = {
    val (_, touched, _) = batches(i)
    val r = new java.util.SplittableRandom(seed * 31 + i)
    Seq.fill(3)(touched(r.nextInt(touched.size))).map { k =>
      val t0 = System.nanoTime()
      val got = tr.span("streaming", "lookup", "read") {
        CdcStream.lookup(spark, state, pks, Seq(k)).collect()
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val want = gen.model.get(k)
      val gotImg = got.headOption.map(row => Gen.cdcSchema.fieldNames.toSeq.map(row.getAs[Any]))
      if (got.length > 1 || gotImg != want)
        lookupFailures += s"lookup($k) after op $i: got ${got.toSeq}, expected $want"
      ms
    }
  }

  private def buckets(): Map[String, Set[String]] = {
    val root = Paths.get(state)
    Files.list(root).iterator().asScala.filter(_.getFileName.toString.startsWith(CdcStream.BucketCol))
      .map(d => d.getFileName.toString -> Workload.parquetFiles(d.toString)).toMap
  }

  private def spooled(i: Int): Path = Paths.get(spool, topic, batches(i)._1.getFileName.toString)

  override def prefix(i: Int): Unit = {
    val f = spooled(i).toString
    def parsed = Debezium.receive(Readers.lines(spark, f), "value", Gen.cdcSchema)
    def lww = Collapse.lastWriteWins(parsed.filter(E.isRowEvent(col(E.Kind))), pks)
    tr.span("sources", "lines", "prefix") { noop(Readers.lines(spark, f)) }
    tr.span("parsers", "Debezium.receive", "prefix") { noop(parsed) }
    tr.span("operators", "Collapse.lastWriteWins", "prefix") { noop(lww) }
    collapsed(i) = lww.count()
    val after = buckets()
    rewritten(i) = after.count { case (b, fs) => bucketsBefore(i).get(b) != Some(fs) }
  }

  def outputFiles(): Set[String] = parquetFiles(state)

  def check(): Seq[String] = {
    val want = gen.fold()
    val got = CdcStream.readState(spark, state).collect()
      .map(r => r.getAs[Long](Gen.cdcKey) -> Gen.cdcSchema.fieldNames.toSeq.map(r.getAs[Any]))
    val gotMap = got.toMap
    val bad = (want.keySet ++ gotMap.keySet).filter(k => want.get(k) != gotMap.get(k))
    val stateCheck =
      if (bad.isEmpty && got.length == want.size) Nil
      else Seq(s"state: ${bad.size} keys differ from the last-write-wins fold " +
        s"(${got.length} rows, expected ${want.size}); e.g. ${bad.take(3)
          .map(k => s"$k: ${gotMap.get(k)} vs ${want.get(k)}").mkString("; ")}")
    stateCheck ++ lookupFailures.take(5) ++
      (if (lookupFailures.size > 5) Seq(s"... ${lookupFailures.size - 5} more lookup failures")
       else Nil)
  }

  override def opCounters: Map[String, Double] =
    rewritten.map { case (i, n) => s"op$i.buckets_rewritten" -> n.toDouble }.toMap

  override def close(): Unit = if (query != null) query.stop()

  def layers(rec: Recorder, ops: Int): Map[String, Double] = {
    val commits = rec.spansOf("op", "streaming").filter(_.op >= 0)
    val sj = commits.flatMap(rec.streamJobsIn).distinctBy(_.id)
    val ids = sj.map(_.batchId).toSet
    val nb = math.max(1, ids.size).toDouble
    val st = rec.tasksOf(sj)
    val writeStages = st.filter(_.outBytes > 0).map(_.stageId).toSet
    val wt = st.filter(t => writeStages(t.stageId))
    val events = (0 until ops).map(batches(_)._3.toDouble).sum
    val prog = rec.progress.filter(p => ids(p.batchId) && p.numInputRows > 0).toSeq
    def dur(k: String): Seq[Double] =
      prog.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue()))
    val trig = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
      "walCommit", "commitOffsets", "triggerExecution")
      .map(k => s"streaming.trigger_ms.$k" -> median(dur(k)))
    val pre = rec.spansOf("prefix").filter(_.op >= 0)
    def preS(l: String) = pre.filter(_.layer == l).map(_.secs).sum
    val looks = rec.spansOf("read", "streaming").filter(_.op >= 0)
    val (writeS, commit) = writeSecs(rec, sj)
    val rowsOut = (0 until ops).map(collapsed(_).toDouble).sum
    trig.toMap ++ Map(
      "sources.read_s" -> preS("sources") / ops,
      "sources.bytes_read" -> mean((0 until ops).map(i => fileBytes(spooled(i).toString))),
      "sources.records_read" -> taskSum(rec, pre.filter(_.layer == "sources"))(_.inRecs) / ops,
      "parsers.decode_s" -> (preS("parsers") - preS("sources")) / ops,
      "parsers.records_in" -> events / ops,
      "operators.chain_s" -> (preS("operators") - preS("parsers")) / ops,
      "operators.rows_in" -> events / ops,
      "operators.rows_out" -> rowsOut / ops,
      "operators.collapse_ratio" -> rowsOut / math.max(1.0, events),
      "streaming.merge_s" -> mean(dur("addBatch")) / 1e3,
      "streaming.merge_jobs_per_batch" -> sj.size / nb,
      "streaming.buckets_rewritten_per_batch" -> mean((0 until ops).map(rewritten(_).toDouble)),
      "streaming.rewrite_rows_per_event" -> wt.map(_.outRecs).sum / math.max(1.0, events),
      "streaming.rewrite_bytes_per_batch" -> wt.map(_.outBytes).sum / nb,
      "streaming.write_tasks_empty_frac" ->
        (if (wt.isEmpty) 0.0 else wt.count(_.outRecs == 0).toDouble / wt.size),
      "streaming.lookup_s" -> mean(looks.map(_.secs)),
      "streaming.lookup_bytes_read" ->
        taskSum(rec, looks)(_.inBytes) / math.max(1, looks.size),
      "streaming.state_files" -> parquetFiles(state).size.toDouble,
      "sinks.write_s" -> writeS / nb,
      "sinks.commit_s" -> commit / nb,
      "sinks.bytes_written" -> wt.map(_.outBytes).sum / nb)
  }
}

/** Standing dedup indexes: each batch of documents goes through
  * `Dedup.bandIndexUpdate` and `Dedup.containmentIndexUpdate`; every
  * fourth operation also compacts both indexes. */
final class DedupWorkload(spark: SparkSession, seed: Long, dir: String,
                          tr: Tracer) extends Workload(spark, seed, dir, tr) {
  import Workload._
  private val gen = new CorpusGen(seed)
  private val corpus = s"$dir/corpus"
  private val band = s"$dir/band"
  private val cont = s"$dir/containment"
  private val bandPairs = mutable.Set.empty[(Long, Long)]
  private val contPairs = mutable.Set.empty[(Long, Long)]
  private val pairsPerOp = mutable.Map.empty[Int, Long]
  private var consumed = 0
  /** The corpus batch of operation 0. */
  private var first = 1
  override def cycle: Int = 4
  override def minOps: Int = 2 * cycle
  override def maxOps: Int = (gen.batches - cycle) / cycle * cycle
  def tracedOps: Int = 4

  private def docs(b: Int): DataFrame = spark.read.parquet(s"$corpus/batch=$b")

  def setup(): Unit = {
    import spark.implicits._
    gen.docs.toDF("doc_id", "batch", "text").repartition(4)
      .write.partitionBy("batch").parquet(corpus)
    tr.atOp(-1)
    update(-1, 0, compact = false)
  }

  private def update(i: Int, b: Int, compact: Boolean): Unit = {
    val d = docs(b)
    val bp = tr.span("functions", "bandIndexUpdate") {
      Dedup.bandIndexUpdate(band, d, "text", "doc_id").collect()
    }
    val cp = tr.span("functions", "containmentIndexUpdate") {
      Dedup.containmentIndexUpdate(cont, d, "text", "doc_id").collect()
    }
    if (compact) tr.span("functions", "compact") {
      Dedup.bandIndexCompact(spark, band)
      Dedup.containmentIndexCompact(spark, cont)
    }
    bandPairs ++= bp.map(r => (r.getLong(0), r.getLong(1)))
    contPairs ++= cp.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    pairsPerOp(i) = bp.length.toLong + cp.length
    consumed = b + 1
  }

  /** One whole cycle, so that the timed cycles start on a freshly
    * compacted index and the incremental paths (which set-up's bootstrap
    * batch does not take) are warm. */
  override def warmUp(): Unit = {
    (1 to cycle).foreach(b => update(-1, b, compact = b == cycle))
    first = cycle + 1
  }

  def run(i: Int): Long = {
    require(first + i <= gen.batches, s"the corpus holds ${gen.batches} batches")
    update(i, first + i, compact = (i + 1) % cycle == 0)
    gen.batchDocs
  }

  override def prefix(i: Int): Unit =
    tr.span("sources", "parquet", "prefix") { noop(docs(first + i)) }

  def outputFiles(): Set[String] = parquetFiles(band) ++ parquetFiles(cont)

  def check(): Seq[String] = {
    val all = spark.read.parquet(corpus).filter(col("batch") < consumed)
    val oneShot = Dedup.prefixContainmentPairs(all, "text", "doc_id")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchOf = gen.docs.map(d => d._1 -> d._2).toMap
    val planted = gen.nearDups.filter(p => batchOf(p._2) < consumed)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val missed = planted.filterNot(bandPairs)
    (if (oneShot == contPairs) Nil
     else Seq(s"containment: incremental ${contPairs.size} pairs, one-shot ${oneShot.size}, " +
       s"${(oneShot -- contPairs).size} missing, ${(contPairs -- oneShot).size} extra")) ++
      (if (missed.isEmpty) Nil
       else Seq(s"band index missed ${missed.size} of ${planted.size} planted near-duplicates, " +
         s"e.g. ${missed.take(3).mkString(", ")}"))
  }

  def layers(rec: Recorder, ops: Int): Map[String, Double] = {
    val fs = rec.spansOf("op", "functions").filter(_.op >= 0)
    def named(n: String) = fs.filter(_.name == n)
    val b = named("bandIndexUpdate")
    val c = named("containmentIndexUpdate")
    val comp = named("compact")
    def jobsPer(ss: Seq[Span]) = ss.flatMap(rec.jobsIn).size.toDouble / math.max(1, ss.size)
    val pre = rec.spansOf("prefix").filter(_.op >= 0)
    val all = fs.flatMap(rec.jobsIn).distinctBy(_.id)
    val (writeS, commit) = writeSecs(rec, all)
    Map(
      "functions.band_update_s" -> mean(b.map(_.secs)),
      "functions.containment_update_s" -> mean(c.map(_.secs)),
      "functions.compact_s" -> mean(comp.map(_.secs)),
      "functions.band_jobs_per_update" -> jobsPer(b),
      "functions.containment_jobs_per_update" -> jobsPer(c),
      "functions.jobs_per_update" -> (jobsPer(b) + jobsPer(c)),
      "functions.shuffle_bytes_per_update" -> taskSum(rec, b ++ c)(_.shuffleWrite) / ops,
      "functions.pairs_found" -> mean((0 until ops).map(pairsPerOp(_).toDouble)),
      "functions.index_files" -> outputFiles().size.toDouble,
      "sources.read_s" -> mean(pre.map(_.secs)),
      "sources.bytes_read" -> mean((0 until ops).map(i => fileBytes(s"$corpus/batch=${first + i}"))),
      "sources.records_read" -> taskSum(rec, pre)(_.inRecs) / ops,
      "sinks.write_s" -> writeS / ops,
      "sinks.commit_s" -> commit / ops,
      "sinks.bytes_written" -> rec.tasksOf(all).map(_.outBytes).sum.toDouble / ops)
  }
}
