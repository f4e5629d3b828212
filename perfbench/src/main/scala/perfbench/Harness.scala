package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.frame.WoodworkFrame

/** One timed call into a layer, as recorded by [[Pass]]. Times are wall
  * clock: `startMs`/`endMs` for attribution of Spark jobs, the `*S` fields
  * from `System.nanoTime`. `phases` holds (name, startMs, endMs) for the
  * build/plan/exec spans of a traced call.
  */
final case class Call(pass: Int, measured: Boolean, traced: Boolean,
                      seq: Int, layer: String,
                      fn: String, startMs: Long, endMs: Long, callS: Double,
                      buildS: Double, planS: Double, execS: Double,
                      ok: Boolean, error: String, fp: String, oracle: String,
                      writeBytes: Long, writeFiles: Long,
                      phases: Seq[(String, Long, Long)]) {
  def name: String = s"$layer.$fn"
  def key: String = s"$seq:$name"
  /** Where the warm pass writes the output of an oracled call. */
  def oracleDir: String = if (pass == 0 && oracle.nonEmpty) s"$seq-$oracle" else ""
}

/** What a call's body measured: phase seconds, the fingerprint, the
  * phase spans, written bytes and files, seconds spent checking that the
  * call time excludes, and the end of the timed part when it ends before
  * the checks. */
private final case class Result(buildS: Double, planS: Double,
                                execS: Double, fp: String,
                                phases: Seq[(String, Long, Long)],
                                bytes: Long = 0L, files: Long = 0L,
                                untimedS: Double = 0.0, endMs: Long = 0L)

/** Settings of one harness process. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, out: String,
                      inject: Set[String])

/** Issues the calls of one pass over a workload. Each call is timed from
  * outside the library: `build` until the call returns, `plan` forcing the
  * executed plan (traced passes only; untraced passes plan inside `exec`),
  * `exec` materializing every row of the result through
  * `queryExecution.toRdd` while fingerprinting it. A call that throws, or
  * whose fingerprint differs from the first pass, is a failed call.
  */
final class Pass(val spark: SparkSession, val no: Int, val measured: Boolean,
                 val traced: Boolean, opts: Opts,
                 reference: scala.collection.Map[String, String],
                 snapshots: ArrayBuffer[Long]) {
  val calls = ArrayBuffer.empty[Call]
  /** Seconds spent on output checks (oracle outputs in the warm pass,
    * read-backs of writes), which pass and setup times exclude. */
  var checkS = 0.0
  private var seq = 0
  val ioDir: String = s"${opts.out}/io/p$no"
  def warm: Boolean = no == 0
  def injected(fault: String): Boolean = opts.inject(fault)

  def table(name: String): DataFrame =
    spark.read.parquet(s"${opts.data}/$name.parquet")

  /** A call returning a DataFrame; `oracle` names the query whose DuckDB
    * oracle the result must match. */
  def df(layer: String, fn: String, oracle: String = "")(
      body: => DataFrame): DataFrame =
    timed(layer, fn, oracle) { () =>
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      val d = body
      val t1 = System.nanoTime(); val m1 = System.currentTimeMillis()
      val qe = d.queryExecution
      if (traced) qe.executedPlan
      val t2 = System.nanoTime(); val m2 = System.currentTimeMillis()
      val fp = Fingerprint.of(qe.toRdd, d.schema)
      val t3 = System.nanoTime(); val m3 = System.currentTimeMillis()
      (d, Result(s(t0, t1), s(t1, t2), s(t2, t3), fp.toString,
        Seq(("build", m0, m1), ("plan", m1, m2), ("exec", m2, m3))))
    }

  /** A call returning a typed frame; its DataFrame is materialized. */
  def frame(layer: String, fn: String)(body: => WoodworkFrame): WoodworkFrame = {
    var f: WoodworkFrame = null
    df(layer, fn) { f = body; f.df }
    f
  }

  /** A call that writes to `dir` under this pass's io directory. The
    * write is the call's `exec` phase; the fingerprint is that of the
    * written rows, read back untimed. */
  def write(layer: String, fn: String, dir: String,
            readBack: String => DataFrame)(body: String => Unit): Unit =
    timed(layer, fn, "") { () =>
      val out = s"$ioDir/$dir"
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      body(out)
      val t1 = System.nanoTime(); val m1 = System.currentTimeMillis()
      val (bytes, files) = Harness.du(new File(out))
      val back = readBack(out)
      val fp = Fingerprint.of(back.queryExecution.toRdd, back.schema)
      ((), Result(0.0, 0.0, s(t0, t1), fp.toString, Seq(("exec", m0, m1)),
        bytes, files, untimedS = s(t1, System.nanoTime()), endMs = m1))
    }

  private def s(a: Long, b: Long): Double = (b - a) / 1e9

  private def timed[T](layer: String, fn: String, oracle: String)(
      run: () => (T, Result)): T = {
    seq += 1
    val key = s"$seq:$layer.$fn"
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (value, res, error) =
      try {
        val (v, r) = run()
        (v, r, "")
      } catch {
        case NonFatal(e) =>
          (null.asInstanceOf[T], null, s"${e.getClass.getName}: ${e.getMessage}")
      }
    val callS = s(t0, System.nanoTime())
    val end =
      if (res != null && res.endMs > 0) res.endMs else System.currentTimeMillis()
    val err =
      if (error.nonEmpty || warm) error
      else reference.get(key) match {
        case Some(fp) if fp != res.fp =>
          s"fingerprint ${res.fp} differs from warm pass $fp"
        case None => "call failed in the warm pass"
        case _ => ""
      }
    val r = Option(res)
    checkS += r.fold(0.0)(_.untimedS)
    val call = Call(no, measured, traced, seq, layer, fn, start, end,
      callS - r.fold(0.0)(_.untimedS), r.fold(0.0)(_.buildS),
      r.fold(0.0)(_.planS), r.fold(0.0)(_.execS), err.isEmpty, err,
      r.fold("")(_.fp), oracle, r.fold(0L)(_.bytes), r.fold(0L)(_.files),
      if (traced) r.fold(Seq.empty[(String, Long, Long)])(_.phases) else Nil)
    if (res != null && call.oracleDir.nonEmpty) {
      val c0 = System.nanoTime()
      writeOracle(call.oracleDir, value.asInstanceOf[DataFrame])
      checkS += s(c0, System.nanoTime())
    }
    calls += call
    if (traced) snapshots += Harness.cachedBytes(spark)
    System.err.println(f"[perfbench] pass $no%d $key%-40s ${callS}%.3f s" +
      (if (err.isEmpty) "" else s" FAILED $err"))
    value
  }

  private def writeOracle(dir: String, d: DataFrame): Unit =
    d.coalesce(1).write.mode("overwrite").parquet(s"${opts.out}/oracle/$dir")
}

/** Drives the warm passes and the measured passes of one run. */
object Harness {
  /** Nominal seconds of one measured pass of any workload on 4 cores; a
    * run of `seconds` measures ceil(seconds / PassSeconds) passes. */
  val PassSeconds = 5.0
  /** Untimed passes before the measured ones. */
  val WarmPasses = 2

  def du(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) {
      val n = f.getName
      if (n.startsWith(".") || n.startsWith("_")) (0L, 0L) else (f.length, 1L)
    } else f.listFiles().map(du).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }

  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally walk.close()
    }

  final case class PassRec(no: Int, measured: Boolean, traced: Boolean,
                           wallS: Double,
                           startMs: Long, endMs: Long,
                           events: Option[EngineListener.Events],
                           cachedPeak: Long)

  def run(spark: SparkSession, opts: Opts, jvmStartMs: Long,
          sessionS: Double, workload: Workload): Map[String, Any] = {
    val reference = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val passes = ArrayBuffer.empty[PassRec]
    val calls = ArrayBuffer.empty[Call]
    val listener = new EngineListener

    def onePass(no: Int, measured: Boolean, traced: Boolean): Pass = {
      val snaps = ArrayBuffer.empty[Long]
      val p = new Pass(spark, no, measured, traced, opts, reference, snaps)
      if (traced) {
        PerfbenchBus.drain(spark.sparkContext)
        listener.take()
        spark.sparkContext.addSparkListener(listener)
      }
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      workload.pass(p)
      val wall = (System.nanoTime() - t0) / 1e9 - p.checkS
      val m1 = System.currentTimeMillis()
      val events = if (traced) {
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        Some(listener.take())
      } else None
      delete(Paths.get(p.ioDir))
      passes += PassRec(no, measured, traced, wall, m0, m1, events,
        if (snaps.isEmpty) 0L else snaps.max)
      calls ++= p.calls
      p
    }

    // Warm passes: the first is cold (class loading, codegen, first
    // jobs), sets the reference fingerprints and writes the oracled
    // outputs; the second takes most of the JIT speed-up that follows.
    val first = onePass(0, measured = false, traced = false)
    first.calls.filter(_.ok).foreach(c => reference(c.key) = c.fp)
    val warm = first +: (1 until WarmPasses).map(onePass(_, measured = false,
      traced = false))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 -
      warm.map(_.checkS).sum

    // A fixed number of measured passes per `seconds`, so every run of a
    // workload measures the same calls and its percentiles keep their
    // ranks. A traced run alternates untraced and traced passes, at least
    // one of each, so it also measures its own untraced wall time.
    val n = math.max(if (opts.trace) 2 else 1,
      math.ceil(opts.seconds / PassSeconds).toInt)
    val t0 = System.nanoTime()
    (1 to n).foreach(i =>
      onePass(WarmPasses - 1 + i, measured = true,
        traced = opts.trace && i % 2 == 0))
    val elapsed = (System.nanoTime() - t0) / 1e9
    val retained = cachedBytes(spark)

    Map(
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "measured_s" -> elapsed,
      "retained_bytes" -> retained,
      "cores" -> spark.sparkContext.defaultParallelism,
      "spark_version" -> spark.version,
      "passes" -> passes.toSeq.map(passJson),
      "calls" -> calls.toSeq.map(callJson),
      "spans" -> spans(opts, passes.toSeq, calls.toSeq))
  }

  private def passJson(p: PassRec): Map[String, Any] = Map(
    "pass" -> p.no, "measured" -> p.measured, "traced" -> p.traced,
    "wall_s" -> p.wallS)

  private def callJson(c: Call): Map[String, Any] = Map(
    "pass" -> c.pass, "measured" -> c.measured, "traced" -> c.traced,
    "key" -> c.key, "layer" -> c.layer, "fn" -> c.fn, "call_s" -> c.callS,
    "ok" -> c.ok, "error" -> c.error, "fp" -> c.fp, "oracle" -> c.oracle,
    "oracle_dir" -> c.oracleDir)

  /** Spans of the traced passes, each with a `kind`: a `pass` holds
    * `call`s (`layer.fn`), a call holds its build/plan/exec `phase`s and
    * the Spark `job`s that started inside it, and a job holds the `stage`s
    * it ran. Jobs that started outside every call, such as the harness's
    * read-back of a write, belong to no call and are only counted on the
    * pass span. Job and stage spans carry their listener task totals. */
  private def spans(opts: Opts, passes: Seq[PassRec],
                    calls: Seq[Call]): Seq[Map[String, Any]] = {
    val run = s"${opts.workload}-${opts.seed}"
    def span(kind: String, pass: Int, id: String, name: String, start: Long,
             end: Long, parent: String): Map[String, Any] =
      Map("run" -> run, "pass" -> pass, "kind" -> kind, "id" -> id,
        "name" -> name, "start" -> start, "end" -> end, "parent" -> parent)
    passes.filter(_.traced).flatMap { p =>
      val ev = p.events.get
      val passId = s"p${p.no}"
      val byStage = ev.tasks.groupBy(_.stageId)
      val pc = calls.filter(_.pass == p.no)
      def inCall(c: Call)(j: EngineListener.JobStart): Boolean =
        j.time >= c.startMs && j.time < c.endMs
      val outside = ev.jobs.count(j => !pc.exists(c => inCall(c)(j)))
      val passSpan = span("pass", p.no, passId, "pass", p.startMs, p.endMs,
        null) ++ Map("wall_s" -> p.wallS, "cached_peak_bytes" -> p.cachedPeak,
        "jobs_outside_calls" -> outside)
      passSpan +: pc.flatMap { c =>
        val callId = s"$passId.c${c.seq}"
        val callSpan = span("call", p.no, callId, c.name, c.startMs, c.endMs,
          passId) ++ Map("key" -> c.key, "layer" -> c.layer, "ok" -> c.ok,
          "call_s" -> c.callS, "build_s" -> c.buildS, "plan_s" -> c.planS,
          "exec_s" -> c.execS, "write_bytes" -> c.writeBytes,
          "write_files" -> c.writeFiles)
        val phases = c.phases.map { case (n, a, b) =>
          span("phase", p.no, s"$callId.$n", s"${c.name}.$n", a, b, callId)
        }
        val jobs = ev.jobs.filter(inCall(c)).flatMap { j =>
          val jobId = s"$callId.j${j.id}"
          val ts = j.stageIds.flatMap(byStage.getOrElse(_, Nil))
          val job = span("job", p.no, jobId, "spark.job", j.time,
            ev.jobEnds.getOrElse(j.id, c.endMs), callId) ++ Map(
            "tasks" -> ts.size, "tasks_failed" -> ts.count(_.failed),
            "task_s" -> ts.map(_.runMs).sum / 1e3,
            "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
            "gc_s" -> ts.map(_.gcMs).sum / 1e3,
            "shuffle_bytes" -> ts.map(_.shuffleBytes).sum,
            "spill_bytes" -> ts.map(_.spillBytes).sum)
          val stages = ev.stages.filter(st => j.stageIds.contains(st.id))
            .map { st =>
              val ds = byStage.getOrElse(st.id, Nil).map(_.durationMs).sorted
              span("stage", p.no, s"$jobId.s${st.id}", "spark.stage",
                st.submitted, st.completed, jobId) ++ Map(
                "tasks" -> ds.size,
                "task_max_ms" -> ds.lastOption.getOrElse(0L),
                "task_median_ms" -> (if (ds.isEmpty) 0L else ds(ds.size / 2)))
            }
          job +: stages
        }
        callSpan +: (phases ++ jobs)
      }
    }
  }
}

/** A workload: the calls of one pass, issued through a [[Pass]]. */
trait Workload {
  def pass(p: Pass): Unit
}
