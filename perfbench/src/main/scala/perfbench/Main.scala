package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{CheckpointRegistry, GraftSession, SharedRelations, Tables}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** One benchmark run: one process, one closed-loop client, ops one after
  * another on a `local[cores]` session.
  *
  * A run sets up once (session start, table resolution and a warm-up pass
  * over the workload's ops on a small corpus, which pays JIT and codegen),
  * then runs one cold pass over the benchmark corpus, which pays every
  * memo, checkpoint and artifact build, and warm passes
  * with the memos standing until `seconds` have passed and at least 100
  * op samples exist. Every op's result is fingerprinted by the timed
  * action itself and checked against the expected fingerprints.
  *
  * {{{
  * Main --workload <name> --bench <dir> --warm <dir> --seconds <s>
  *      --trace <0|1> --cores <n> --expected <file> --out <file>
  *      [--trace-out <file>] [--record]
  * }}}
  */
object Main {
  private val MinSamples = 100
  /** Warm passes stop here; a run that has fewer than [[MinSamples]] warm
    * op samples by then fails rather than report a p90 it cannot support. */
  private val MaxRunSeconds = 140.0

  final case class OpRun(pass: Int, op: Workloads.BenchOp, start: Double,
      fnEnd: Double, actionEnd: Double, end: Double, error: Option[String],
      fp: Option[Stats.Fingerprint]) {
    def ms: Double = actionEnd - start
  }

  final case class PassResult(idx: Int, start: Double, end: Double,
      canaryMs: Double, runs: Seq[OpRun], counters: Map[String, Double]) {
    def seconds: Double = (end - start) / 1000
  }

  // Wall clock in epoch milliseconds with nanosecond resolution, so spans
  // timed here line up with the listener's event times.
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def main(argv: Array[String]): Unit = {
    val record = argv.contains("--record")
    val a = argv.filterNot(_ == "--record").grouped(2)
      .collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val ops = Workloads.all.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val benchDir = a("bench")
    val warmDir = a("warm")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val expected = readExpected(a("expected"))

    val runStart = now()
    val load1 = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val probe = new Probe(traced)

    // --- set-up: session start, resolution of the benchmark corpus's
    // tables and a warm-up pass over the workload's ops on the small corpus
    // (JIT and codegen warm-up)
    val s0 = now()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val s1 = now()
    resolveTables(spark, benchDir)
    val s2 = now()
    ops.foreach { op =>
      val w0 = now()
      val cg = codegen()._1
      try Stats.fingerprint(op.op.fn(spark, warmDir))
      catch { case e: Exception => System.err.println(s"[setup] ${op.name}: ${e.getMessage}") }
      CheckpointRegistry.releaseAll()
      System.err.println(f"[setup] ${op.name} ${now() - w0}%.1f ms ${codegen()._1 - cg} compiles")
    }
    clearMemos(spark)
    val setupEnd = now()
    probe.drain(sc)
    probe.resetPeak()

    // --- timed passes: pass 0 is cold, the rest warm
    def artifactMb: Double = dirBytes(new File(System.getProperty("java.io.tmpdir"))) / Probe.MB
    // Untraced runs read no per-pass counters, so they skip the drains.
    def drain(): Unit = if (traced) probe.drain(sc)
    def runPass(idx: Int): PassResult = {
      val c0 = now()
      try Stats.fingerprint(Workloads.canary.fn(spark, benchDir))
      catch { case e: Exception => System.err.println(s"[canary] ${e.getMessage}") }
      val canaryMs = now() - c0
      drain()
      val before = probe.snapshot()
      val cg0 = codegen()
      val p0 = now()
      val runs = ops.map { op =>
        sc.setLocalProperty(Probe.OpTag, s"$idx/${op.name}")
        val cg = codegen()._1
        val o0 = now()
        var o1 = Double.NaN
        val result = try {
          val df = op.op.fn(spark, benchDir)
          o1 = now()
          Right(Stats.fingerprint(df))
        } catch { case e: Throwable =>
          if (o1.isNaN) o1 = now()
          Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        }
        val o2 = now()
        CheckpointRegistry.releaseAll()
        val o3 = now()
        System.err.println(f"[pass $idx] ${op.name} ${o2 - o0}%.1f ms ${codegen()._1 - cg} compiles" +
          result.left.toOption.fold("")(" " + _))
        OpRun(idx, op, o0, o1, o2, o3, result.left.toOption, result.toOption)
      }
      val p1 = now()
      sc.setLocalProperty(Probe.OpTag, null)
      drain()
      val after = probe.snapshot()
      val cg1 = codegen()
      val delta = (after.keySet ++ before.keySet).map { k =>
        k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))
      }.toMap ++ Map(
        "codegen.compiles" -> (cg1._1 - cg0._1).toDouble,
        "codegen.compile_ms" -> (cg1._2 - cg0._2),
        "memo.artifact_mb" -> artifactMb)
      PassResult(idx, p0, p1, canaryMs, runs, delta)
    }

    val passes = mutable.ArrayBuffer(runPass(0))
    val warmStart = now()
    def samples = (passes.size - 1) * ops.size
    while (passes.size < 2 ||
      ((now() - warmStart) / 1000 < seconds || samples < MinSamples) &&
        (now() - runStart) / 1000 < MaxRunSeconds) {
      passes += runPass(passes.size)
    }

    // --- end of run: release everything the harness owns, then look
    // for storage nobody released
    clearMemos(spark)
    probe.drain(sc)
    val peakStorageMb = probe.peakStorageMb
    val leakedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / Probe.MB

    // --- output check
    val runs = passes.flatMap(_.runs).toSeq
    def problem(r: OpRun): Option[String] = r.error.orElse {
      val fp = r.fp.get
      val got = if (r.op.op.oracle.isDefined) fp.toString else fp.shape
      expected.get(r.op.name) match {
        case _ if record => None
        case None => Some("no expected fingerprint")
        case Some(want) => if (got == want) None else Some(s"got [$got] want [$want]")
      }
    }
    val problems = runs.flatMap(r => problem(r).map(r -> _))
    val failed = problems.size
    val failures = problems.groupBy(_._1.op.name).map { case (k, ps) =>
      k -> s"${ps.size} failed runs, first in pass ${ps.head._1.pass}: ${ps.head._2}"
    }
    if (record) writeExpected(a("expected"), ops, runs)

    // --- metrics
    val cold = passes.head
    val warm = passes.tail.toSeq
    val warmOpMs = warm.flatMap(_.runs.map(_.ms))
    val e2e = Seq(
      "setup_s" -> (setupEnd - s0) / 1000,
      "cold_s" -> cold.seconds,
      "warm_s" -> Stats.median(warm.map(_.seconds)),
      "op_p50_ms" -> Stats.median(warmOpMs),
      "op_p90_ms" -> Stats.percentile(warmOpMs, 0.9).getOrElse(
        sys.error(s"${warmOpMs.size} warm op samples in $MaxRunSeconds s: a p90 needs $MinSamples")))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e.map { case (k, v) => (k, v, Layers.unitOf(k)) }
      else {
        val layers = new Layers(probe, cores)
        val perPass = passes.map(p => layers.passMetrics(p))
        val names = perPass.head.keys.toSeq.sorted
        val warmMed = names.map(n => n -> Stats.median(perPass.tail.map(_(n)).toSeq))
        val coldVals = names.map(n => s"cold.$n" -> perPass.head(n))
        val run = Seq(
          "session.start_ms" -> (s1 - s0),
          "tables.resolve_ms" -> (s2 - s1),
          "memo.leaked_mb" -> leakedMb,
          "memo.peak_storage_mb" -> peakStorageMb,
          "host.load1" -> load1,
          "trace.warm_passes" -> warm.size.toDouble,
          "trace.op_samples" -> warmOpMs.size.toDouble)
        val tracedE2e = e2e.map { case (k, v) => s"traced.$k" -> v }
        (warmMed ++ coldVals ++ run ++ tracedE2e).map { case (k, v) => (k, v, Layers.unitOf(k)) }
      }
    a.get("trace-out").filter(_ => traced).foreach { f =>
      Files.writeString(Paths.get(f), new Layers(probe, cores).spansJson(runStart, now(),
        (s0, setupEnd), passes.toSeq))
    }

    val opTable = ops.map { op =>
      val mine = runs.filter(_.op.name == op.name)
      val c = mine.find(_.pass == 0).map(_.ms).getOrElse(Double.NaN)
      val w = mine.filter(_.pass > 0).map(_.ms)
      s"${Json.str(op.name)}:[${Json.num(c)},${Json.num(if (w.isEmpty) Double.NaN else Stats.median(w.toSeq))}]"
    }.mkString("{", ",", "}")
    val out =
      s"""{"correct":${failed == 0},"attempted":${runs.size},"failed":$failed,""" +
      s""""metrics":${metrics.map { case (k, v, u) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString("{", ",", "}")},""" +
      s""""detail":{"workload":${Json.str(workload)},"cores":$cores,""" +
      s""""warm_passes":${warm.size},"op_samples":${warmOpMs.size},""" +
      s""""fail_ratio":${Json.num(failed.toDouble / runs.size)},""" +
      s""""peak_storage_mb":${Json.num(peakStorageMb)},""" +
      s""""failures":${failures.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")},""" +
      s""""canary_ms":${passes.map(p => Json.num(p.canaryMs)).mkString("[", ",", "]")},""" +
      s""""load1":${Json.num(load1)},"ops_ms_cold_warm":$opTable}}"""
    Files.writeString(Paths.get(a("out")), out + "\n")
    spark.stop()
  }

  private def resolveTables(spark: SparkSession, dir: String): Unit = {
    Seq(Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _,
      Tables.part _, Tables.orders _, Tables.lineitem _, Tables.documents _,
      Tables.embeddings _, Tables.events _).foreach(ld => ld(spark, dir))
  }

  /** The end-of-family release the program's own harnesses perform. */
  private def clearMemos(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    SharedRelations.clear()
    CheckpointRegistry.releaseAll()
  }

  /** (compilations, compile ms) so far. The histogram keeps every sample
    * until it holds 1028; past that the sum is estimated from its mean. */
  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val ms = if (snap.size >= n) snap.getValues.sum.toDouble else snap.getMean * n
    (n, ms)
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  private def readExpected(path: String): Map[String, String] = {
    val f = new File(path)
    if (!f.isFile) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
  }

  /** Record the expected fingerprints: the full one for oracle ops, the
    * row count and column names for rows-only ops. Refuses to record an
    * op that failed or whose fingerprint changed between passes. */
  private def writeExpected(path: String, ops: Seq[Workloads.BenchOp], runs: Seq[OpRun]): Unit = {
    val lines = ops.map { op =>
      val mine = runs.filter(_.op.name == op.name)
      mine.find(_.error.isDefined).foreach(r => sys.error(s"${op.name} failed: ${r.error.get}"))
      val fps = mine.map(_.fp.get).distinct
      val v = if (op.op.oracle.isDefined) {
        require(fps.size == 1, s"${op.name}: fingerprint differs between passes: $fps")
        fps.head.toString
      } else {
        val shapes = fps.map(_.shape).distinct
        require(shapes.size == 1, s"${op.name}: shape differs between passes: $shapes")
        shapes.head
      }
      s"${op.name}\t$v"
    }
    Files.writeString(Paths.get(path),
      "# op<TAB>expected fingerprint (oracle ops) or shape (rows-only ops)\n" +
        lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON rendering for the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
