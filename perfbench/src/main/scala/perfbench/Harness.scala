package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries._

/** JVM side of the benchmark. `run.py` launches it straight from the
  * compiled classpath in one of two modes:
  *
  *  - `setup`: build the SparkSession and the query registry, print
  *    `READY`, exit. `run.py` times launch → `READY` as one set-up.
  *  - `run <sfDir> <planFile> <seconds> <trace 0|1> <outFile>`: set up,
  *    print `READY`, run the cold pass and then rerun passes, and write
  *    every span and count as JSONL to `outFile` at exit.
  *
  * Every call ends in one action that reads every output column (row count
  * plus an order-independent row hash); `run.py` compares both with the
  * committed reference. Calls run one at a time on this thread. */
object Harness {

  private val tokenizerMarks =
    Seq("bpe", "unigram_learn", "unigram_encode", "wordpiece", "tokens",
      "tokenizer")

  /** Layer of each query module, named after the repo's packages. */
  private def moduleLayer: Seq[(QueryModule, String => String)] = Seq(
    IngestQueries -> (_ => "etl"), TimeSeriesQueries -> (_ => "etl"),
    Windows -> (_ => "etl"), EventQueries -> (_ => "etl"),
    SanityQueries -> (_ => "etl"),
    BacktestQueries -> (_ => "backtest"), BacktestQueries2 -> (_ => "backtest"),
    HybridQueries -> (_ => "backtest"), CalibrationQueries -> (_ => "backtest"),
    CompareQueries -> (_ => "backtest"), ProductionQueries -> (_ => "backtest"),
    MlQueries -> (_ => "ml"), ResearchQueries -> (_ => "ml"),
    ValidationQueries -> (_ => "ml"),
    Relational -> (_ => "ops"),
    TextQueries -> (n =>
      if (tokenizerMarks.exists(n.contains)) "text.tok" else "text.lm"),
    DedupQueries -> (_ => "dedup"), CurationQueries -> (_ => "dedup"),
    MultimodalQueries -> (_ => "multimodal"),
    AnnQueries -> (_ => "ann"))

  /** The public shared-stage entry points, timed as calls of their own. */
  private val stageCalls
      : Map[String, (String, (SparkSession, String) => DataFrame)] = Map(
    "Stage.slimGrammar" -> ("etl", Stage.slimGrammar _),
    "Stage.slimFwd" -> ("etl", Stage.slimFwd _),
    "Stage.slimSignals" -> ("backtest", Stage.slimSignals _))

  final case class Call(name: String, layer: String, rowsOnly: Boolean,
    fn: (SparkSession, String) => DataFrame)

  /** Every callable: the registered queries from `SparkEntry.queries`
    * plus the stage entry points. A query is rows-only when it has no
    * oracle SQL (the iterative fits the oracle gate compares by rows). */
  def calls(queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, Call] = {
    val meta = moduleLayer.flatMap { case (m, layer) =>
      m.all.map(q => q.name -> (layer(q.name), q.oracle.isEmpty)) }.toMap
    val unmapped = queries.keySet -- meta.keySet
    require(unmapped.isEmpty,
      s"queries with no layer: ${unmapped.toSeq.sorted.mkString(", ")}")
    queries.map { case (n, fn) =>
      n -> Call(n, meta(n)._1, meta(n)._2, fn) } ++
      stageCalls.map { case (n, (layer, fn)) => n -> Call(n, layer, false, fn) }
  }

  def session(trace: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val scratch = sys.props("java.io.tmpdir")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", scratch)
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a traced run must not drop task events on a full listener queue
    if (trace) b.config("spark.scheduler.listenerbus.eventqueue.capacity",
      "200000")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The action a call ends in: row count and an order-independent hash
    * over every column, the sum, split into two 32-bit halves so it never
    * overflows, of each row's xxhash64 (maps are hashed as their key-sorted
    * entry arrays). Each partition is folded in a typed `mapPartitions`,
    * which Catalyst does not see through, so the query's plan runs whole;
    * an `Aggregate` here would let `EliminateSorts` drop its ORDER BY. */
  def digest(df: DataFrame): Dataset[(Long, Long, Long)] = {
    val n = df.columns.length
    val pos = df.toDF((0 until n).map("c" + _): _*)
    val cols: Seq[Column] = pos.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = if (n == 0) lit(0L) else xxhash64(cols: _*)
    pos.select(h.as("h")).as[Long](Encoders.scalaLong).mapPartitions { it =>
      var rows, hi, lo = 0L
      it.foreach { x => rows += 1; hi += x >>> 32; lo += x & 0xFFFFFFFFL }
      Iterator((rows, hi, lo))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong))
  }

  /** Row count and hash from the partitions' (rows, high-half sum,
    * low-half sum). */
  def rowsAndHash(parts: Array[(Long, Long, Long)]): (Long, String) = {
    val (rows, hi, lo) = parts.foldLeft((0L, 0L, 0L)) {
      case ((r, a, b), (r1, a1, b1)) => (r + r1, a + a1, b + b1) }
    (rows, f"$hi%016x$lo%016x")
  }

  /** Sort operators in a plan. */
  def sorts(plan: LogicalPlan): Int = plan.collect { case s: Sort => s }.size

  // ---- tracing ------------------------------------------------------------

  final class JobRec(val id: Int, val group: String, val start: Long) {
    var end: Long = -1L
    var tasks = 0L
    var runMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var maxTaskMs = 0L
  }

  /** Counts Spark work per job and planning time per query execution.
    * Registered only in a traced run, which traces every pass. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, JobRec]()
    /** (first phase start ms, analysis + optimization + planning ms) */
    val plans = new ConcurrentLinkedQueue[(Long, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      val j = new JobRec(e.jobId, g, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      if (j != null) {
        j.tasks += 1
        j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    private def plan(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        plans.add(ph.values.map(_.startTimeMs).min ->
          Seq("analysis", "optimization", "planning")
            .flatMap(ph.get).map(_.durationMs).sum)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      plan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      plan(qe)
  }

  // ---- main -----------------------------------------------------------------

  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable with Spark's event times. */
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def main(args: Array[String]): Unit = args.toList match {
    case "setup" :: Nil =>
      setUp(trace = false)
      // the set-up is measured; the session holds nothing worth a clean stop
      Runtime.getRuntime.halt(0)
    case "run" :: sfDir :: planFile :: seconds :: trace :: out :: Nil =>
      run(sfDir, planFile, seconds.toDouble, trace == "1", out)
    case _ =>
      System.err.println("usage: Harness setup | " +
        "run <sfDir> <planFile> <seconds> <trace 0|1> <outFile>")
      sys.exit(2)
  }

  /** Session plus query registry, the program's set-up; prints
    * `READY <jvm ms> <session ms> <registry ms>` (JVM start to main,
    * session build, registry build) as soon as both are ready. */
  private def setUp(trace: Boolean)
      : (SparkSession, Map[String, (SparkSession, String) => DataFrame]) = {
    val t0 = System.nanoTime()
    val jvmMs = System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(trace)
    val t1 = System.nanoTime()
    val queries = graft.SparkEntry.queries
    val t2 = System.nanoTime()
    println(f"READY $jvmMs ${(t1 - t0) / 1e6}%.1f ${(t2 - t1) / 1e6}%.1f")
    (spark, queries)
  }

  /** Block bytes (memory + disk) and count of the RDDs the session still
    * holds. Transient caches are released by the ContextCleaner only after
    * a GC, so collect first and wait until the reading stops changing. */
  private def heldBlocks(spark: SparkSession): (Long, Int) = {
    def read() = {
      val s = spark.sparkContext.getRDDStorageInfo
      (s.map(i => i.memSize + i.diskSize).sum, s.length)
    }
    System.gc()
    val deadline = System.nanoTime() + 3000000000L
    var last = read()
    var same = 0
    while (same < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val cur = read()
      if (cur == last) same += 1 else { same = 0; last = cur }
    }
    last
  }

  private val minReruns = 5

  private def run(sfDir: String, planFile: String, seconds: Double,
      trace: Boolean, out: String): Unit = {
    val (spark, queries) = setUp(trace)
    val calls = this.calls(queries)
    // plan lines: "<pass>\t<call>"; pass 0 is the cold pass
    val plan = scala.io.Source.fromFile(planFile).getLines()
      .filter(_.nonEmpty).map(_.split("\t")).map(a => a(0).toInt -> a(1))
      .toSeq
    val passes = plan.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
    val unknown = plan.map(_._2).filterNot(calls.contains)
    require(unknown.isEmpty, s"unknown calls: ${unknown.mkString(", ")}")

    val rec = new Recorder
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
    }
    val lines = new java.util.ArrayList[String]()
    val runStart = nowMs()
    val sc = spark.sparkContext

    def runPass(idx: Int, names: Seq[String]): Double = {
      val p0 = nowMs()
      names.zipWithIndex.foreach { case (name, i) =>
        val c = calls(name)
        val id = s"p$idx.c$i"
        sc.setJobGroup(id, name, interruptOnCancel = false)
        val t0 = nowMs()
        val res =
          try {
            val df = c.fn(spark, sfDir)
            val d = digest(df)
            Right((df, d, rowsAndHash(d.collect())))
          } catch { case e: Throwable => Left(e) }
        val t1 = nowMs()
        sc.clearJobGroup()
        val body = res match {
          // in the cold pass, check outside the timed window that the
          // action kept every Sort of the query's own optimized plan
          case Right((df, d, _)) if idx == 0 &&
              sorts(d.queryExecution.optimizedPlan) <
                sorts(df.queryExecution.optimizedPlan) =>
            s""""ok":false,"error":"the row hash pruned a Sort of the query""""
          case Right((_, _, (rows, hash))) =>
            s""""ok":true,"rows":$rows,"hash":${q(hash)}"""
          case Left(e) =>
            s""""ok":false,"error":${q(e.getClass.getName + ": " +
              String.valueOf(e.getMessage).take(300))}"""
        }
        lines.add(s"""{"kind":"call","id":${q(id)},"parent":"p$idx","pass":$idx,"name":${q(name)},"layer":${q(c.layer)},"rows_only":${c.rowsOnly},"start":$t0,"end":$t1,$body}""")
      }
      val p1 = nowMs()
      lines.add(s"""{"kind":"pass","id":"p$idx","parent":"run","pass":$idx,"start":$p0,"end":$p1}""")
      (p1 - p0) / 1e3
    }

    // cold pass: the shared stages are built here
    runPass(0, passes.head)
    val (cacheBytes, cachedRdds) = heldBlocks(spark)
    // rerun passes until the measuring time is spent, at least `minReruns`:
    // two JIT warm-up passes and three for the median
    val reruns = passes.tail
    var done = 0
    var lastPass = 0.0
    while (done < reruns.size && (done < minReruns ||
        (nowMs() - runStart) / 1e3 + lastPass <= seconds)) {
      lastPass = runPass(done + 1, reruns(done))
      done += 1
    }
    val runEnd = nowMs()
    val gc = gcMs()
    val rt = ManagementFactory.getRuntimeMXBean
    val meta = Seq(
      s""""kind":"meta"""", s""""id":"run"""", s""""start":$runStart""",
      s""""end":$runEnd""", s""""cache_bytes":$cacheBytes""",
      s""""cached_rdds":$cachedRdds""", s""""gc_ms":$gc""",
      s""""jvm_uptime_ms":${rt.getUptime}""",
      s""""cores":${Runtime.getRuntime.availableProcessors()}""",
      s""""heap_max_bytes":${Runtime.getRuntime.maxMemory()}""",
      s""""spark_version":${q(spark.version)}""",
      s""""java_version":${q(sys.props("java.version"))}""",
      s""""scala_version":${q(scala.util.Properties.versionNumberString)}""",
      s""""rerun_passes":$done""")
    lines.add(meta.mkString("{", ",", "}"))
    graft.queries.Stage.clear()
    // stop() drains the listener bus, so every traced event is in by now
    spark.stop()
    if (trace) {
      rec.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        lines.add(s"""{"kind":"job","id":"j${j.id}","group":${if (j.group == null) "null" else q(j.group)},"start":${j.start},"end":${j.end},"tasks":${j.tasks},"run_ms":${j.runMs},"shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes},"max_task_ms":${j.maxTaskMs}}""")
      }
      rec.plans.asScala.foreach { case (start, ms) =>
        lines.add(s"""{"kind":"plan","start":$start,"plan_ms":$ms}""")
      }
    }
    val w = new PrintWriter(new File(out), "UTF-8")
    try lines.asScala.foreach(w.println) finally w.close()
  }
}
