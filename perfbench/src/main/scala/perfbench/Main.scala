package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.{Caches, GraftSession, SparkEntry}
import graft.pipeline.{CorpusCuration, OlympicPipelineMain, OlympicSchemas}
import graft.sources.Tables

/** One unit of a pass: `build` returns the named frames the unit produces,
  * which the harness then plans and hands to `sink`.
  */
final case class Work(name: String, build: () => Seq[(String, DataFrame)],
                      sink: (String, DataFrame, Boolean) => Unit)

/** Benchmark harness: runs one workload's units in repeated passes inside
  * one `local[cores]` session and writes a raw record (per pass, per unit,
  * per phase; per-layer counters when tracing) for `run.py` to aggregate
  * and check.
  *
  * Each unit is timed through public calls only: build = the registry
  * function or pipeline entry point, plan = `queryExecution.executedPlan`,
  * execute = the sink, release = `Caches.withScope` exit. The last warm-up
  * pass writes every query unit's output to parquet for the correctness
  * check; measured passes use the noop sink, pipelines always write.
  *
  * Usage: Main key=value ... with keys workload, seed, seconds, trace
  * (0|1), cores, warmup, units (comma list), tables, olympic, curation,
  * out, record.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val tracing = a("trace") == "1"
    val cores = a("cores").toInt
    val out = a("out")

    val t0 = Clock.nowMs
    val spark = GraftSession.local(cores, "perfbench")
    val sessionS = (Clock.nowMs - t0) / 1000
    val sc = spark.sparkContext
    val trace = new Trace
    if (tracing) sc.addSparkListener(trace)

    def querySink(unit: String)(name: String, df: DataFrame, check: Boolean): Unit =
      if (check) Tables.write(df, s"$out/check/$unit", SaveMode.Overwrite, files = 1)
      else df.write.format("noop").mode("overwrite").save()
    def fileSink(unit: String)(name: String, df: DataFrame, check: Boolean): Unit =
      Tables.write(df, s"$out/$unit/$name", SaveMode.Overwrite)

    val works = a("units").split(",").toSeq.map {
      case "olympic" => Work("olympic", () => {
        val dir = a("olympic")
        val bronze = Seq("biodata", "results", "editions")
          .map(t => t -> Tables.table(spark, dir, t)).toMap
        val iso = Tables.csv(spark, s"$dir/iso_codes.csv", OlympicSchemas.isoCountryCodes)
        OlympicPipelineMain.run(bronze, iso).toSeq.sortBy(_._1)
      }, fileSink("olympic"))
      case "curation" => Work("curation", () => {
        val docs = Tables.table(spark, a("curation"), "documents")
        val (funnel, curated) = CorpusCuration.funnelWithCorpus(docs, "doc_id", "text")
        Seq("funnel" -> funnel, "curated" -> curated)
      }, fileSink("curation"))
      case q => Work(q, () => Seq(q -> SparkEntry.queries(q)(spark, a("tables"))), querySink(q))
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = gcBeans.map(_.getCollectionTime).sum.toDouble
    def jitMs = jit.getTotalCompilationTime.toDouble

    final case class UnitRun(span: Span, phases: Seq[Span], rddsLeft: Int, error: Option[String])
    final case class PassRun(span: Span, units: Seq[UnitRun], gcS: Double, jitS: Double)
    val failures = mutable.ArrayBuffer.empty[(String, String, String)]
    val root = trace.open(-1, "workload", a("workload"))

    def runUnit(parent: Span, w: Work, check: Boolean, passName: String): UnitRun = {
      val us = trace.open(parent.id, "unit", w.name)
      val phases = mutable.ArrayBuffer.empty[Span]
      def phase(p: String): Unit = {
        val now = Clock.nowMs
        phases.lastOption.foreach(_.end = now)
        phases += trace.open(us.id, "phase", p)
        if (tracing) sc.setLocalProperty(Trace.PhaseKey, p)
      }
      if (tracing) sc.setLocalProperty(Trace.UnitKey, us.id.toString)
      // every RDD the unit creates gets a higher id than this one
      val firstRdd = sc.emptyRDD[Int].id
      val error = try {
        Caches.withScope {
          phase("build")
          val frames = w.build()
          phase("plan")
          frames.foreach(_._2.queryExecution.executedPlan)
          phase("execute")
          frames.foreach { case (n, df) => w.sink(n, df, check) }
          phase("release")
        }
        None
      } catch {
        case t: Throwable =>
          val msg = s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
          failures += ((passName, w.name, msg))
          Some(msg)
      }
      us.end = Clock.nowMs
      phases.last.end = us.end
      if (tracing) {
        sc.setLocalProperty(Trace.UnitKey, null)
        sc.setLocalProperty(Trace.PhaseKey, null)
      }
      UnitRun(us, phases.toSeq, sc.getPersistentRDDs.keys.count(_ > firstRdd), error)
    }

    def runPass(name: String, index: Int, check: Boolean): PassRun = {
      val ps = trace.open(root.id, "pass", name)
      val (gc0, jit0) = (gcMs, jitMs)
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(works)
      val units = order.map(runUnit(ps, _, check, name))
      ps.end = Clock.nowMs
      PassRun(ps, units, (gcMs - gc0) / 1000, (jitMs - jit0) / 1000)
    }

    val warmupPasses = a("warmup").toInt
    val warm = (1 to warmupPasses).map(i => runPass(s"warmup-$i", -i, check = i == warmupPasses))
    val measureStart = Clock.nowMs
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val measured = mutable.ArrayBuffer.empty[PassRun]
    // whole passes until the window is used up: the last one may overrun it
    while (measured.isEmpty || Clock.nowMs - measureStart < seconds * 1000)
      measured += runPass(s"pass-${measured.size + 1}", measured.size + 1, check = false)
    val peakRssMb = procStatusKb("VmHWM") / 1024.0

    if (tracing) org.apache.spark.perfbench.ListenerBusDrain(sc)
    root.end = Clock.nowMs
    val jobs = if (tracing) trace.jobList else Nil
    val jobsByUnit = jobs.groupBy(_.unit)

    def dur(s: Span) = (s.end - s.start) / 1000
    def passJson(p: PassRun): Json = {
      val unitJobs = p.units.flatMap(u => jobsByUnit.getOrElse(u.span.id, Nil))
      def phaseS(name: String) = p.units.flatMap(_.phases).filter(_.name == name).map(dur).sum
      val perLayer: Seq[(String, Json)] = if (!tracing) Nil else {
        val wall = dur(p.span)
        val execJobs = unitJobs.filter(_.phase == "execute")
        val taskS = unitJobs.map(_.taskMs).sum / 1000.0
        val gapS = p.units.map { u =>
          val ivs = jobsByUnit.getOrElse(u.span.id, Nil)
            .map(j => (j.start.toDouble, if (j.end < 0) u.span.end else j.end.toDouble))
          dur(u.span) - Trace.covered(ivs, u.span.start, u.span.end) / 1000
        }.sum
        val mb = 1e6
        Seq(
          "build.wall_s" -> Json.num(phaseS("build")),
          "build.jobs" -> Json.num(unitJobs.count(_.phase == "build")),
          "build.share" -> Json.num(phaseS("build") / wall),
          "plan.wall_s" -> Json.num(phaseS("plan")),
          "exec.wall_s" -> Json.num(phaseS("execute")),
          "exec.jobs" -> Json.num(execJobs.size),
          "exec.stages" -> Json.num(execJobs.map(_.stages).sum),
          "exec.tasks" -> Json.num(execJobs.map(_.tasks).sum),
          "exec.task_s" -> Json.num(execJobs.map(_.taskMs).sum / 1000.0),
          "exec.busy" -> Json.num(taskS / (wall * cores)),
          "exec.shuffle_write_mb" -> Json.num(unitJobs.map(_.shuffleWriteBytes).sum / mb),
          "exec.spill_mb" -> Json.num(unitJobs.map(_.spillBytes).sum / mb),
          "driver.gap_s" -> Json.num(gapS),
          "sources.input_mb" -> Json.num(unitJobs.map(_.inputBytes).sum / mb),
          "sources.output_mb" -> Json.num(unitJobs.map(_.outputBytes).sum / mb),
          "caches.release_s" -> Json.num(phaseS("release")),
          "caches.rdds_left" -> Json.num(p.units.map(_.rddsLeft).sum),
          "jvm.gc_s" -> Json.num(p.gcS),
          "jvm.jit_s" -> Json.num(p.jitS))
      }
      Json.obj(
        "name" -> Json.str(p.span.name),
        "wall_s" -> Json.num(dur(p.span)),
        "units" -> Json.obj(p.units.map { u =>
          val ph = u.phases.map(s => s.name -> dur(s)).toMap
          u.span.name -> Json.obj(
            Seq("wall_s" -> Json.num(dur(u.span))) ++
              Trace.Phases.map(n => s"${n}_s" -> Json.num(ph.getOrElse(n, 0.0))) ++
              Seq("unaccounted_s" -> Json.num(dur(u.span) - ph.values.sum),
                "jobs" -> Json.num(jobsByUnit.getOrElse(u.span.id, Nil).size),
                "rdds_left" -> Json.num(u.rddsLeft),
                "error" -> u.error.fold(Json.Null)(Json.str)): _*)
        }: _*),
        "per_layer" -> Json.obj(perLayer: _*))
    }

    val rt = Runtime.getRuntime
    val record = Json.obj(
      "workload" -> Json.str(a("workload")),
      "seed" -> Json.num(seed),
      "trace" -> Json.bool(tracing),
      "env" -> Json.obj(
        "cores" -> Json.num(cores),
        "master" -> Json.str(sc.master),
        "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
        "available_processors" -> Json.num(rt.availableProcessors()),
        "heap_max_mb" -> Json.num(rt.maxMemory() / 1048576.0),
        "code_cache_mb" -> Json.num(ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getName.contains("CodeHeap")).map(_.getUsage.getMax).sum / 1048576.0),
        "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
          System.getProperty("java.runtime.version")),
        "spark" -> Json.str(spark.version),
        "jvm_args" -> Json.arr(ManagementFactory.getRuntimeMXBean.getInputArguments
          .asScala.toSeq.filterNot(_.startsWith("--add-opens")).map(Json.str))),
      "units" -> Json.arr(works.map(w => Json.str(w.name))),
      // the curation funnel is checked against q68, the registry query
      // that runs the same funnel over `documents`
      "oracle_sql" -> Json.obj(works.flatMap(w =>
        SparkEntry.oracleSql.get(if (w.name == "curation") "q68_curation_funnel" else w.name)
          .map(s => w.name -> Json.str(s))): _*),
      "session_start_s" -> Json.num(sessionS),
      "warmup_s" -> Json.num((measureStart - warm.head.span.start) / 1000),
      "setup_s" -> Json.num((measureStart - jvmStart) / 1000),
      "measure_s" -> Json.num((measured.last.span.end - measureStart) / 1000),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "warmup" -> Json.arr(warm.map(passJson)),
      "passes" -> Json.arr(measured.toSeq.map(passJson)),
      "failures" -> Json.arr(failures.toSeq.map { case (p, u, e) =>
        Json.obj("pass" -> Json.str(p), "unit" -> Json.str(u), "error" -> Json.str(e)) }))
    Files.write(Paths.get(a("record")), record.render.getBytes(StandardCharsets.UTF_8))
    if (tracing) writeTrace(a("record") + ".trace.jsonl", trace, jobs)
    spark.stop()
  }

  private def procStatusKb(field: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  /** Every span and job of the run, one JSON object per line. */
  private def writeTrace(path: String, trace: Trace, jobs: Seq[JobStats]): Unit = {
    val lines = trace.spans.map { s =>
      Json.obj("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end)).render
    } ++ jobs.map { j =>
      Json.obj("kind" -> Json.str("job"), "job" -> Json.num(j.id),
        "parent" -> Json.num(j.unit), "phase" -> Json.str(j.phase),
        "start_ms" -> Json.num(j.start), "end_ms" -> Json.num(j.end),
        "stages" -> Json.num(j.stages), "tasks" -> Json.num(j.tasks),
        "task_ms" -> Json.num(j.taskMs),
        "shuffle_write_bytes" -> Json.num(j.shuffleWriteBytes),
        "spill_bytes" -> Json.num(j.spillBytes),
        "input_bytes" -> Json.num(j.inputBytes),
        "output_bytes" -> Json.num(j.outputBytes)).render
    }
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8)
  }
}

/** Minimal JSON values for the record. */
sealed trait Json { def render: String }
object Json {
  private final case class Raw(render: String) extends Json
  val Null: Json = Raw("null")
  def num(v: Double): Json =
    Raw(if (v.isNaN || v.isInfinite) "null"
        else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
        else v.toString)
  def num(v: Long): Json = Raw(v.toString)
  def bool(v: Boolean): Json = Raw(v.toString)
  def str(s: String): Json = Raw(s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\""))
  def arr(xs: Seq[Json]): Json = Raw(xs.map(_.render).mkString("[", ",", "]"))
  def obj(kvs: (String, Json)*): Json =
    Raw(kvs.map { case (k, v) => str(k).render + ":" + v.render }.mkString("{", ",", "}"))
}
