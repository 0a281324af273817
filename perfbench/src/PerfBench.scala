package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, xxhash64}

import graft.{Pipeline, SparkEntry}
import graft.extract.Triples
import graft.graph.{Checkpoints, Materialize}

/** Benchmark runner: runs one workload through the engine's public entry
  * points and writes every timed call as a span to a raw JSON file, which
  * `run.py` summarizes and checks (see perfbench/README.md).
  *
  * Usage: perfbench.Main <session|runall|prepare> <seed> <trace 0|1>
  *   <cores> <inputDir> <corpusDir> <workDir> <outFile>
  *
  * Each call into the engine is one span: the benchmark times it from
  * outside and tags its Spark jobs with the span id as job group. In a
  * traced run a [[TaskListener]] adds task metrics per job group, and the
  * run covers both workloads so that every layer reports.
  */
object Main {

  /** The 19 session stages in dependency order (each one's upstream
    * stages come before it, so its build time is its own), with the
    * layer each belongs to. */
  val Stages: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("spanRows", "ingest", Pipeline.spanRows),
    ("docs", "ingest", Pipeline.docs),
    ("textual", "ingest", Pipeline.textual),
    ("mentions", "extract", Pipeline.mentions),
    ("linked", "extract", Pipeline.linked),
    ("alias_pairs", "canonicalize", Pipeline.aliasPairs),
    ("cooc_edges", "canonicalize", Pipeline.coocEdges),
    ("clusters", "canonicalize", Pipeline.clusterAssignment),
    ("registry_nodes", "canonicalize", Pipeline.registryNodes),
    ("vertices", "graph", Pipeline.vertices),
    ("dialogue", "voice", Pipeline.dialogue),
    ("voice_profiles", "voice", Pipeline.voiceProfiles),
    ("dialogue_word_counts", "voice", Pipeline.dialogueWordCounts),
    ("events", "lore", Pipeline.events),
    ("timeline", "lore", Pipeline.timeline),
    ("classified", "style", Pipeline.classified),
    ("shingles", "text", Pipeline.shingles),
    ("wb_categories", "worldbible", Pipeline.wbCategories),
    ("wb_rules", "worldbible", Pipeline.wbRules))

  /** Times the set-up (session start and a warm-up pass) is repeated in
    * every run; `setup_s` is their median. */
  val SetupRepeats = 3

  /** Measured all-core extraction passes per run. */
  val ExtractPasses = 4

  final class Config(args: Array[String]) {
    require(args.length == 8, "usage: perfbench.Main <session|runall|" +
      "prepare> <seed> <trace 0|1> <cores> <inputDir> <corpusDir> " +
      "<workDir> <outFile>")
    val workload: String = args(0)
    require(Set("session", "runall", "prepare")(workload),
      s"unknown workload $workload")
    val seed: Long = args(1).toLong
    val traced: Boolean = args(2) == "1"
    val cores: Int = args(3).toInt
    val input: String = args(4)
    val corpus: String = args(5)
    val work: String = args(6)
    val out: String = args(7)
  }

  def main(args: Array[String]): Unit = {
    val cfg = new Config(args)
    if (cfg.workload == "prepare") return prepare(cfg)
    val rec = new Recorder(cfg.traced)
    rec.fact("seed", cfg.seed)
    rec.fact("cores", cfg.cores)
    (1 to SetupRepeats).foreach(_ => setup(cfg, rec))
    if (cfg.traced) {
      // every layer reports in a traced run, so it runs both workloads
      session(cfg, rec)
      runall(cfg, rec)
    } else if (cfg.workload == "session") session(cfg, rec)
    else runall(cfg, rec)
    // last, once the JIT has finished compiling the extraction kernel
    // that the set-up passes made hot
    extract(cfg, rec)
    rec.write(cfg.out)
  }

  def newSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      // graft.Bench's split sizing for the stored corpus: several task
      // waves per leg instead of one bin per core
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Write the stored extraction corpus: the textual passages of the
    * tables in `cfg.input`, as parquet in 8 files per core (whole task
    * waves on either leg). Like a stored table, it is written once and
    * read by every run. */
  def prepare(cfg: Config): Unit = {
    val spark = newSession(cfg.cores, cfg.work)
    try Pipeline.textual(spark, cfg.input)
      .select("doc_id", "pos", "passage_id", "text")
      .repartition(8 * cfg.cores)
      .write.mode("overwrite").parquet(cfg.corpus)
    finally spark.stop()
  }

  /** Session start and one warm-up extraction pass over the stored
    * corpus. */
  def setup(cfg: Config, rec: Recorder): Unit =
    rec.span("setup", "setup", "extract", None) { root =>
      val spark = rec.attach(newSession(cfg.cores, cfg.work))
      try rec.span("extract.triples", "warmup", "extract", Some(root)) { _ =>
        Triples.fromPassagesFused(spark, spark.read.parquet(cfg.corpus))
          .count()
      } finally spark.stop()
      -1L
    }

  /** Stored-corpus extraction passes on all `cores` in one session. A
    * traced run alternates them with passes on one core (the same scan
    * coalesced to a single task) for the scaling efficiency, and with
    * untraced all-core passes for the tracing overhead. */
  def extract(cfg: Config, rec: Recorder): Unit = {
    val legs =
      if (!cfg.traced) Seq("n")
      else Seq("n", "n_untraced") ++ (if (cfg.cores > 1) Seq("1") else Nil)
    val spark = rec.attach(newSession(cfg.cores, cfg.work))
    def pass(kind: String, parent: Int, oneCore: Boolean): Int =
      rec.span("extract.triples", kind, "extract", Some(parent)) { _ =>
        val corpus = spark.read.parquet(cfg.corpus)
        Triples.fromPassagesFused(spark,
          if (oneCore) corpus.coalesce(1) else corpus).count()
      }
    try rec.span("extract", "extract", "extract", None) { root =>
      // the session's first job pays one-time costs neither leg should
      pass("warmup", root, oneCore = false)
      (1 to (if (cfg.traced) 2 else ExtractPasses)).foreach { _ =>
        legs.foreach { leg =>
          rec.tracing(leg != "n_untraced") {
            pass(s"extract_pass_$leg", root, oneCore = leg == "1")
          }
        }
      }
      -1L
    } finally spark.stop()
  }

  /** A cold session: build the 19 stages in dependency order, then write
    * every query through the `noop` sink in a seed-permuted order. */
  def session(cfg: Config, rec: Recorder): Unit = {
    val names = new scala.util.Random(cfg.seed)
      .shuffle(SparkEntry.queries.keys.toSeq.sorted)
    val spark = rec.attach(newSession(cfg.cores, cfg.work))
    try rec.span("session", "session", "query", None) { root =>
      val pinned = ArrayBuffer.empty[DataFrame]
      val stages = rec.span("stages", "stages", "query", Some(root)) { p =>
        Stages.foreach { case (name, layer, build) =>
          rec.spanRows(s"stage.$name", "stage", layer, Some(p)) {
            val df = build(spark, cfg.input)
            pinned += df
            df
          }(_.count())
        }
        -1L
      }
      // storage of the pinned stages' own RDDs: stage builds leave other
      // RDDs cached (CC supersteps) until the context cleaner runs
      val ids = pinned.flatMap(df => lineage(df.rdd)).toSet
      rec.fact("session_pinned_mb", spark.sparkContext.getRDDStorageInfo
        .filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum / 1e6,
        stages)
      rec.span("queries", "queries", "query", Some(root)) { p =>
        names.foreach { q =>
          rec.span(s"query.$q", "query", "query", Some(p)) { _ =>
            val obs = Observation(q)
            SparkEntry.queries(q)(spark, cfg.input)
              .observe(obs, count(lit(1)).as("rows"))
              .write.format("noop").mode("overwrite").save()
            obs.get("rows").asInstanceOf[Long]
          }
        }
        -1L
      }
      // useful-outcome ratio of the linker: linked mentions / mentions
      rec.span("extract.linked_ratio", "check", "extract", Some(root)) { _ =>
        val l = Pipeline.linked(spark, cfg.input)
        val linked = l.filter(col("canonical_id").isNotNull).count()
        rec.fact("extract.linked_mentions", linked, root)
        l.count()
      }
      -1L
    } finally spark.stop()
  }

  /** `Materialize.runAll` into an empty warehouse, then rerun on the same
    * warehouse, which resumes every stage from the checkpoint table. */
  def runall(cfg: Config, rec: Recorder): Unit = {
    val wh = s"${cfg.work}/warehouse"
    deleteTree(Paths.get(wh))
    val spark = rec.attach(newSession(cfg.cores, cfg.work))
    // a run's edges are checked untimed, after its span
    def call(kind: String, parent: Int): Int = {
      var edges: Option[DataFrame] = None
      val id = rec.span("runall.edges", kind, "checkpoints", Some(parent)) { _ =>
        val df = Materialize.runAll(spark, cfg.input, wh)
        edges = Some(df)
        df.count()
      }
      edges.foreach(df => rec.fact("runall.edges_hash", contentHash(df), id))
      id
    }
    // the RunAll invariant rows, each of which a run appends anew
    def invariants(): Seq[(String, Long, Long)] =
      new Checkpoints(spark, wh).checkpointTable()
        .filter(col("stage").startsWith("invariant_"))
        .select("stage", "rows_out", "updated_at").collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2).getTime))
    try rec.span("runall", "runall", "checkpoints", None) { cycle =>
      val cold = call("runall_cold", cycle)
      rec.fact("runall_warehouse_mb", dirBytes(Paths.get(wh)) / 1e6, cold)
      rec.fact("checkpoints.passages_mb",
        dirBytes(Paths.get(s"$wh/passages")) / 1e6, cold)
      rec.fact("checkpoints.commits", files(Paths.get(s"$wh/_checkpoints"))
        .count(_.toString.endsWith(".parquet")), cold)
      val coldInvariants = invariants()
      coldInvariants.foreach { case (st, n, _) => rec.fact(s"runall.$st", n, cold) }
      val table = new Checkpoints(spark, wh).checkpointTable()
        .select("stage", "rows_out", "status", "updated_at").collect()
      rec.fact("checkpoints.cc_supersteps",
        table.count(_.getString(0) == "cc_superstep"), cold)
      // one span per checkpointed stage, ending at its last commit
      val done = table.filter(_.getString(2) == "complete")
        .groupBy(_.getString(0)).toSeq
        .map { case (st, rows) =>
          (st, rows.map(_.getTimestamp(3).getTime).max / 1000.0,
            rows.map(_.getLong(1)).sum)
        }.sortBy(_._2)
      rec.stageSpans(cold, done)
      val resumed = call("runall_resumed", cycle)
      rec.fact("runall.resumed_stages", done.size.toLong, resumed)
      invariants().diff(coldInvariants).foreach { case (st, n, _) =>
        rec.fact(s"runall.$st", n, resumed)
      }
      -1L
    } finally spark.stop()
    deleteTree(Paths.get(wh))
  }

  /** An order-independent hash of the rows of `df`: the wrapping sum of
    * their xxhash64, cut to 52 bits so that a fact (a double) holds it
    * exactly. */
  def contentHash(df: DataFrame): Double =
    (df.select(xxhash64(df.columns.toSeq.map(col): _*)).collect()
      .map(_.getLong(0)).sum & ((1L << 52) - 1)).toDouble

  /** Ids of `rdd` and the RDDs it depends on (a checkpoint cuts this). */
  def lineage(rdd: RDD[_]): Seq[Int] =
    rdd.id +: rdd.dependencies.flatMap(d => lineage(d.rdd))

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally w.close()
    }

  def dirBytes(p: Path): Long = files(p).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally w.close()
    }
}

/** Task metrics summed per job group (one group per span). */
final class GroupStats {
  var tasks = 0L
  val runMs = ArrayBuffer.empty[Long]
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Collects task metrics of one SparkContext keyed by the job group of
  * the job that ran the task. Stage ids restart with every context, so
  * each context gets its own listener. */
final class TaskListener(groups: ConcurrentHashMap[String, GroupStats])
    extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(
      "spark.jobGroup.id"))).foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val s = groups.computeIfAbsent(g, _ => new GroupStats)
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Spans and facts of one run, written as one JSON document. */
final class Recorder(traced: Boolean) {
  private final case class Span(id: Int, name: String, kind: String,
      layer: String, parent: Option[Int], start: Double, var end: Double,
      var rows: Long, var error: String, var cpu: Seq[Long] = Nil)

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** (this process's CPU ns, host busy jiffies, host steal jiffies): the
    * time the hypervisor gave other guests shows as steal in /proc/stat. */
  private def cpuNow(): Seq[Long] = {
    val f = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    }.getOrElse(Array.fill(8)(0L))
    Seq(os.getProcessCpuTime, f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private val facts = ArrayBuffer.empty[(String, Double, Option[Int])]
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private var current: Option[SparkSession] = None
  private var listener: Option[TaskListener] = None

  def now: Double = (System.nanoTime() - t0) / 1e9

  /** Use `spark` for the following spans; in a traced run, install a
    * task listener on its context. */
  def attach(spark: SparkSession): SparkSession = {
    current = Some(spark)
    listener = if (traced) Some(new TaskListener(groups)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    spark
  }

  /** Run `body` with the task listener removed when `on` is false. */
  def tracing[A](on: Boolean)(body: => A): A =
    (current.map(_.sparkContext), listener) match {
      case (Some(sc), Some(l)) if !on =>
        // events of earlier spans still queued must reach the listener
        org.apache.spark.ListenerBus.drain(sc)
        sc.removeSparkListener(l)
        try body finally sc.addSparkListener(l)
      case _ => body
    }

  /** Time `body` as one span; its result is the span's row count (-1 when
    * it has none). An exception is recorded on the span, not rethrown. */
  def span(name: String, kind: String, layer: String, parent: Option[Int])(
      body: Int => Long): Int = {
    val s = Span(spans.size, name, kind, layer, parent, now, 0.0, -1L, null)
    spans += s
    val cpu0 = cpuNow()
    val sc = current.filterNot(_.sparkContext.isStopped).map(_.sparkContext)
    sc.foreach(_.setJobGroup(s"span-${s.id}", name))
    try s.rows = body(s.id)
    catch { case e: Throwable => s.error = s"${e.getClass.getName}: ${e.getMessage}" }
    finally {
      s.end = now
      s.cpu = cpuNow().zip(cpu0).map { case (a, b) => a - b }
      sc.filterNot(_.isStopped).foreach(_.clearJobGroup())
      parent.foreach(p => sc.filterNot(_.isStopped)
        .foreach(_.setJobGroup(s"span-$p", spans(p).name)))
    }
    s.id
  }

  /** A span that times `build` alone; `rows` runs afterwards, untimed. */
  def spanRows[A](name: String, kind: String, layer: String,
      parent: Option[Int])(build: => A)(rows: A => Long): Int = {
    var built: Option[A] = None
    val id = span(name, kind, layer, parent) { _ => built = Some(build); -1L }
    built.foreach { b =>
      val sc = current.map(_.sparkContext)
      sc.foreach(_.setJobGroup("check", "row count"))
      try spans(id).rows = rows(b)
      catch { case e: Throwable => spans(id).error = s"${e.getClass.getName}: ${e.getMessage}" }
      finally parent.foreach(p => sc.foreach(_.setJobGroup(s"span-$p", spans(p).name)))
    }
    id
  }

  /** Spans of the checkpointed stages of a `RunAll` call, each ending at
    * its last checkpoint commit and starting where the previous ended. */
  def stageSpans(parent: Int, stages: Seq[(String, Double, Long)]): Unit = {
    val p = spans(parent)
    val wall0 = System.currentTimeMillis() / 1000.0 - now
    var start = p.start
    stages.foreach { case (name, endEpoch, rows) =>
      val end = math.min(p.end, math.max(start, endEpoch - wall0))
      spans += Span(spans.size, s"runall.stage.$name", "runall_stage",
        "checkpoints", Some(parent), start, end, rows, null)
      start = end
    }
  }

  def fact(name: String, value: Double, span: Int = -1): Unit =
    facts += ((name, value, Some(span).filter(_ >= 0)))

  def write(path: String): Unit = {
    def str(s: String): String =
      if (s == null) "null"
      else "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else d.toString
    val spanJson = spans.map { s =>
      val g = Option(groups.get(s"span-${s.id}"))
      val stats = g.fold("") { t =>
        val ms = t.runMs.sorted
        s""","tasks":${t.tasks},"task_ms":${ms.mkString("[", ",", "]")},""" +
          s""""task_max_ms":${ms.lastOption.getOrElse(0L)},""" +
          s""""task_median_ms":${if (ms.isEmpty) 0 else ms(ms.size / 2)},""" +
          s""""gc_ms":${t.gcMs},"shuffle_read_bytes":${t.shuffleRead},""" +
          s""""shuffle_write_bytes":${t.shuffleWrite},"spill_bytes":${t.spill},""" +
          s""""input_bytes":${t.input},"output_bytes":${t.output}"""
      }
      s"""{"id":${s.id},"name":${str(s.name)},"kind":${str(s.kind)},""" +
        s""""layer":${str(s.layer)},"parent":${s.parent.getOrElse("null")},""" +
        s""""start":${num(s.start)},"end":${num(s.end)},"rows":${s.rows},""" +
        s""""error":${str(s.error)}$stats""" +
        s.cpu.zip(Seq("cpu_ns", "busy_jiffies", "steal_jiffies"))
          .map { case (v, k) => s""","$k":$v""" }.mkString + "}"
    }
    val factJson = facts.map { case (n, v, sp) =>
      s"""{"name":${str(n)},"value":${num(v)},"span":${sp.getOrElse("null")}}"""
    }
    val json = s"""{"traced":$traced,"spans":[${spanJson.mkString(",\n")}],""" +
      s"""\n"facts":[${factJson.mkString(",\n")}]}\n"""
    Files.write(Paths.get(path), json.getBytes("UTF-8"))
  }
}
