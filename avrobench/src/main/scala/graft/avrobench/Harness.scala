package graft.avrobench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.cli.Report
import graft.core.Canon
import graft.ops.{DataTests, KeyDiff, VennDiff}

/** Benchmark harness for the Avro diff path. It expects the inputs that
  * [[Gen.main]] wrote into `DIR/data`.
  *
  *   Harness --workload W --seed S --seconds T --trace 0|1 --work DIR --cores N
  *
  * Both modes start with a cold run: the workload's CLI main is the first
  * work of this fresh JVM (`cli_wall_s`, `peak_rss_mb`).
  *
  * Untraced (`--trace 0`): warms the session up for [[WarmUpSeconds]], runs
  * the in-session diff in a closed loop with one client for `--seconds`
  * (`diff_wall_s`, its tail, `rows_per_s`), rebuilds the session several
  * times (`setup_s`), and ends with a second cold run in a child JVM.
  *
  * Traced (`--trace 1`): times each layer's public function on its own,
  * with a Spark counter listener around the call, and runs the full path
  * untraced and traced to report the tracing overhead. Spans go to
  * `DIR/spans.jsonl`.
  *
  * Every run, warm or cold, is checked against the generator's manifest.
  * The last line on stdout is the result as one JSON object.
  */
object Harness {

  final case class Args(w: Workload, seed: Long, seconds: Int, trace: Boolean,
      work: File, cores: Int, coldOnly: Boolean = false) {
    def argv: Seq[String] = Seq("--workload", w.name, "--seed", seed.toString,
      "--seconds", seconds.toString, "--trace", if (trace) "1" else "0",
      "--work", work.getPath, "--cores", cores.toString)
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def get(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(Workload(get("workload")), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", new File(get("work")), get("cores").toInt,
      kv.get("cold-only").contains("1"))
  }

  /** Tally of checked runs: warm and cold, traced or not. */
  final class Tally {
    var attempted = 0
    var failed = 0
    def record(what: String, mismatches: Seq[String]): Boolean = {
      attempted += 1
      if (mismatches.nonEmpty) {
        failed += 1
        System.err.println(s"avrobench: $what failed: ${mismatches.mkString("; ")}")
      }
      mismatches.isEmpty
    }
  }

  // ---- the in-session diff path ---------------------------------------------

  final class Inputs(spark: SparkSession, val dir: File) {
    def load(f: File): DataFrame = spark.read.format("avro").load(f.getPath)
    def old: DataFrame = load(Gen.oldFile(dir))
    def neu: DataFrame = load(Gen.newFile(dir))
    val delta: File = new File(dir, "delta")
  }

  /** What one full run produced, for the checker. */
  final case class RunOut(report: String, keysUnique: Boolean)

  private def captured(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(body)
    ps.flush()
    buf.toString("UTF-8")
  }

  /** One diff as a library caller runs it, from loading both files to the
    * finished report: `keydiff_churn` first tests key uniqueness on both
    * sides and ends by writing the delta through the engine's writer.
    */
  def fullRun(spark: SparkSession, w: Workload, in: Inputs, t: Option[Tracer]): RunOut = {
    def span[T](name: String)(body: => T): T = t.fold(body)(_.span(name)(body))
    span("run") {
      val (o, n) = span("load")((in.old, in.neu))
      if (!w.keyed)
        RunOut(captured(span("report")(Report.printVennDiff(o, n))), keysUnique = true)
      else {
        val unique = w.kind != Workload.Churn || span("datatests.key_unique")(
          DataTests.keyUniqueness(o, w.keys) && DataTests.keyUniqueness(n, w.keys))
        val d = span("keydiff.diff")(KeyDiff.diff(o, n, w.keys))
        val text = captured(span("report")(Report.printKeyDiff(d)))
        if (w.kind == Workload.Churn) span("avro.write") {
          d.filter(col(KeyDiff.StatusCol) =!= "unchanged")
            .write.format("avro").option("codec", w.codec).save(in.delta.getPath)
        }
        RunOut(text, unique)
      }
    }
  }

  /** Rows in the Avro part files of a written directory, counted with a
    * plain `DataFileReader` rather than the engine's reader.
    */
  def avroRows(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".avro"))
      .map { f =>
        val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
        try {
          var n = 0L
          while (r.hasNext) { r.next(); n += 1 }
          n
        } finally r.close()
      }.sum

  def bytesUnder(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten.filter(_.isFile).map(_.length).sum

  def checkRun(w: Workload, m: Manifest, in: Inputs, out: RunOut): Seq[String] =
    Check.report(w, out.report, m) ++ (
      if (w.kind != Workload.Churn) Nil
      else Check.count("key uniqueness (1 = unique)", if (out.keysUnique) 1 else 0, 1) ++
        Check.count("delta rows", avroRows(in.delta), m.deltaRows))

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Untimed reset between runs: drop the previous delta and any blocks a
    * report checkpointed, so every run starts from the same state.
    */
  private def reset(spark: SparkSession, in: Inputs): Unit = {
    deleteTree(in.delta)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One checked, timed full run. Returns its wall time, or None if it
    * failed or printed a wrong answer.
    */
  def timedRun(spark: SparkSession, w: Workload, m: Manifest, in: Inputs,
      tally: Tally, label: String, t: Option[Tracer] = None): Option[Double] = {
    reset(spark, in)
    val t0 = System.nanoTime()
    val result = try Right(fullRun(spark, w, in, t)) catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val mismatches = result match {
      case Right(out) => checkRun(w, m, in, out)
      case Left(e) => Seq(s"threw $e")
    }
    if (tally.record(label, mismatches)) Some(wall) else None
  }

  // ---- session set-up ---------------------------------------------------------

  /** The program's own session builder plus the first trivial job, as the
    * CLI mains start.
    */
  def session(): SparkSession = {
    val s = Report.session()
    s.sparkContext.setLogLevel("WARN")
    s.range(1).count()
    s
  }

  // ---- the cold run: the CLI main first thing in this fresh JVM -----------------

  final case class Cold(wallS: Double, peakRssMb: Double)

  private def vmHwmMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong / 1024.0)
      .getOrElse(Double.NaN)

  /** Runs the workload's CLI main (`KeyDiffApp` / `VennDiffApp`) as the
    * first work of this JVM, before anything else has loaded a class or
    * grown the heap. Wall time runs from the JVM's launch to the return of
    * `main` (which ends by stopping its session); peak RSS is this JVM's
    * high-water mark at that point.
    */
  def coldRun(w: Workload, m: Manifest, dir: File, tally: Tally): Option[Cold] = {
    val args = (Seq(Gen.oldFile(dir).getPath, Gen.newFile(dir).getPath) ++
      (if (w.keyed) Seq(w.keys.mkString(",")) else Nil)).toArray
    val out = try Right(captured(
      if (w.keyed) graft.cli.KeyDiffApp.main(args) else graft.cli.VennDiffApp.main(args)))
    catch { case NonFatal(e) => Left(e) }
    val wall = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val rss = vmHwmMb()
    val mismatches = out.fold(e => Seq(s"threw $e"), Check.report(w, _, m))
    if (tally.record("cold CLI run", mismatches)) Some(Cold(wall, rss)) else None
  }

  /** [[coldRun]] again, in a fresh child JVM started at the end of a run,
    * so that the two cold samples of a run fall at different times on a
    * shared host.
    */
  def coldChild(a: Args, tally: Tally): Option[Cold] = {
    val java = Path.of(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(java) ++ ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.avrobench.Harness") ++
      a.argv ++ Seq("--cold-only", "1")
    val p = new ProcessBuilder(cmd.asJava)
      .redirectError(new File(a.work, "cold-child.err")).start()
    try {
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      p.waitFor()
      out.linesIterator.toSeq.lastOption.map(_.split(" ")) match {
        case Some(Array("cold", wall, rss)) if p.exitValue == 0 =>
          tally.record("cold CLI run in a child JVM", Nil)
          Some(Cold(wall.toDouble, rss.toDouble))
        case _ =>
          tally.record("cold CLI run in a child JVM",
            Seq(s"exit code ${p.exitValue}, see cold-child.err"))
          None
      }
    } finally {
      p.destroyForcibly()
      p.waitFor()
    }
  }

  // ---- statistics ----------------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest sample, at percentile floor(100 (n - 10) / n). With
    * fewer than 11 samples no percentile qualifies, and the largest sample
    * (p100) is returned.
    */
  def tail(xs: Seq[Double]): (Int, Double) =
    if (xs.length < 11) (100, xs.maxOption.getOrElse(Double.NaN))
    else (100 * (xs.length - 10) / xs.length, xs.sorted.apply(xs.length - 11))

  // ---- output ----------------------------------------------------------------------

  final case class Metric(name: String, value: Double, unit: String)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def resultJson(correct: Boolean, tally: Tally, ms: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": ${tally.attempted}, "failed": ${tally.failed}, """ +
      ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
        .mkString(""""metrics": {""", ", ", "}}")

  private def printTable(title: String, ms: Seq[Metric], notes: Map[String, String]): Unit = {
    println(s"# $title")
    ms.foreach(m => println(f"#   ${m.name}%-34s ${num(m.value)}%-22s ${m.unit}%-6s " +
      notes.getOrElse(m.name, "")))
  }

  // ---- the two modes ------------------------------------------------------------

  /** Session builds per run for `setup_s`. */
  val SetupRounds = 5
  /** Untimed in-session runs before the timed loop, in seconds. */
  val WarmUpSeconds = 10
  /** Timed in-session runs per untraced run, at the least. */
  val MinSamples = 3
  /** Repetitions of each layer call in a traced run; the median is kept. */
  val LayerReps = 3
  /** Untraced and traced full-path runs in a traced run, interleaved. */
  val FullPathReps = 5

  def untraced(a: Args, m: Manifest, in0: File, tally: Tally): Seq[Metric] = {
    val cold = coldRun(a.w, m, in0, tally)
    var spark = session()
    val in = new Inputs(spark, in0)
    val w0 = System.nanoTime()
    var warmUps = 0
    while (warmUps < 1 || (System.nanoTime() - w0) / 1e9 < WarmUpSeconds) {
      timedRun(spark, a.w, m, in, tally, s"warm-up $warmUps")
      warmUps += 1
    }
    val samples = ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while ((elapsed < a.seconds || i < MinSamples) && elapsed < 4.0 * a.seconds + 30) {
      timedRun(spark, a.w, m, in, tally, s"warm run $i").foreach(samples += _)
      i += 1
    }
    reset(spark, in)
    // Session set-up, measured once the JVM is warm: stop, then build again.
    val setups = (1 to SetupRounds).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      (System.nanoTime() - t0) / 1e9
    }
    spark.stop()
    val colds = cold.toSeq ++ coldChild(a, tally)

    val wall = median(samples.toSeq)
    val tl = tail(samples.toSeq)
    val rows = (m.rowsOld + m.rowsNew).toDouble
    // Gated end-to-end metrics. The tail and peak RSS are printed here but
    // do not hold within a tenth from run to run on a shared host; the
    // traced run reports them as per-layer numbers.
    val ms = Seq(
      Metric("diff_wall_s", wall, "s"),
      Metric("rows_per_s", rows / wall, "1/s"),
      Metric("cli_wall_s", median(colds.map(_.wallS)), "s"),
      Metric("setup_s", median(setups), "s"))
    printTable("end-to-end (closed loop, 1 client)", ms ++ Seq(
      Metric("diff_wall_tail_s", tl._2, "s"),
      Metric("peak_rss_mb", median(colds.map(_.peakRssMb)), "MB")), Map(
      "diff_wall_s" -> s"median of ${samples.length} runs after $warmUps warm-up runs",
      "diff_wall_tail_s" -> tailNote(samples.length, tl._1),
      "rows_per_s" -> f"${m.rowsOld} + ${m.rowsNew} rows / diff_wall_s",
      "cli_wall_s" -> s"median of ${colds.length} cold runs, JVM launch to the return of the CLI main",
      "setup_s" -> s"median of $SetupRounds session builds in a warm JVM",
      "peak_rss_mb" -> "median VmHWM of the JVMs after the CLI main"))
    println(s"#   diff samples in run order (s): ${samples.map(x => f"$x%.3f").mkString(" ")}")
    println(f"#   failed_frac = ${tally.failed}/${tally.attempted} = " +
      f"${tally.failed.toDouble / math.max(tally.attempted, 1)}%.3f")
    ms
  }

  private def tailNote(n: Int, pct: Int): String =
    if (n < 11) s"p100 of $n samples (max): fewer than 11, so no percentile has 10 beyond it"
    else s"p$pct of $n samples, 10 samples beyond it"

  /** Spark counter metrics of one layer call. */
  private def sparkMetrics(layer: String, m: Option[Measured[_]], cores: Int): Seq[Metric] = {
    val c = m.map(_.counters).getOrElse(Counters())
    val wall = m.map(_.wallS).getOrElse(0.0)
    val cpu = c.taskCpuNs / 1e9
    Seq(
      Metric(s"spark.$layer.jobs", c.jobs.toDouble, "count"),
      Metric(s"spark.$layer.stages", c.stages.toDouble, "count"),
      Metric(s"spark.$layer.tasks", c.tasks.toDouble, "count"),
      Metric(s"spark.$layer.task_cpu_s", cpu, "s"),
      Metric(s"spark.$layer.cpu_util", if (wall > 0) cpu / (wall * cores) else 0.0, "ratio"),
      Metric(s"spark.$layer.gc_s", c.gcNs / 1e9, "s"),
      Metric(s"spark.$layer.shuffle_write_mb", c.shuffleWriteBytes / 1e6, "MB"),
      Metric(s"spark.$layer.spill_mb", c.spillBytes / 1e6, "MB"),
      Metric(s"spark.$layer.input_rows", c.inputRows.toDouble, "count"))
  }

  /** Layers whose Spark counters the traced run reports, in output order. */
  val SparkLayers: Seq[String] = Seq("read", "read_key", "canon", "key_unique", "join",
    "diff", "summary", "counted", "report", "write")

  def traced(a: Args, m: Manifest, in0: File, tally: Tally): Seq[Metric] = {
    val cold = coldRun(a.w, m, in0, tally)
    val spark = session()
    val sc = spark.sparkContext
    val w = a.w
    val in = new Inputs(spark, in0)
    val tracer = new Tracer
    timedRun(spark, w, m, in, tally, "warm-up")

    // The full path, untraced and traced, interleaved.
    val plain = ArrayBuffer[Double]()
    val withSpans = ArrayBuffer[Double]()
    (0 until FullPathReps).foreach { i =>
      timedRun(spark, w, m, in, tally, s"untraced run $i").foreach(plain += _)
      timedRun(spark, w, m, in, tally, s"traced run $i", Some(tracer)).foreach(withSpans += _)
    }
    reset(spark, in)

    // Each layer's public function on its own, LayerReps times; the
    // repetition with the median wall time is kept.
    val o = in.old
    val n = in.neu
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def medianRun[T](runs: Seq[Measured[T]]): Measured[T] =
      runs.sortBy(_.wallNs).apply(runs.length / 2)
    def layer[T](name: String)(body: => T): Measured[T] =
      medianRun((0 until LayerReps).map { _ =>
        reset(spark, in)
        tracer.measured(sc, name)(body)
      })
    val churn = w.kind == Workload.Churn

    val read = layer("avro.read") { noop(o); noop(n) }
    val readKey = Option.when(w.keyed)(layer("avro.read_key") {
      noop(o.select(w.keys.map(col): _*)); noop(n.select(w.keys.map(col): _*))
    })
    val canon = layer("canon") { noop(Canon.canonicalize(o)); noop(Canon.canonicalize(n)) }
    val keyUnique = Option.when(churn)(layer("datatests.key_unique") {
      DataTests.keyUniqueness(o, w.keys) && DataTests.keyUniqueness(n, w.keys)
    })
    val diff = Option.when(w.keyed)(KeyDiff.diff(o, n, w.keys))
    val join = diff.map(d => layer("keydiff.join") {
      noop(d.select((w.keys :+ KeyDiff.StatusCol).map(col): _*))
    })
    val fullDiff = diff.map(d => layer("keydiff.diff")(noop(d)))
    // The summary runs over a checkpointed diff, as the report runs it.
    val summary = diff.map { d =>
      reset(spark, in)
      val dc = d.localCheckpoint()
      medianRun((0 until LayerReps).map(_ => tracer.measured(sc, "keydiff.summary")(
        KeyDiff.summary(dc).collect().map(r => r.getString(0) -> r.getLong(1)).toMap)))
    }
    val counted = Option.when(!w.keyed)(layer("venn.counted")(noop(VennDiff.counted(o, n))))
    val report = layer("report") {
      // A diff of its own: `diff` above has run, and its shuffle output
      // would be reused.
      val text = captured(
        if (w.keyed) Report.printKeyDiff(KeyDiff.diff(o, n, w.keys)) else Report.printVennDiff(o, n))
      tally.record("traced report", Check.report(w, text, m))
    }
    // The write of an already computed delta.
    val write = diff.filter(_ => churn).map { d =>
      reset(spark, in)
      val delta = d.filter(col(KeyDiff.StatusCol) =!= "unchanged").localCheckpoint()
      val out = new File(in.dir, "delta-layer")
      val run = medianRun((0 until LayerReps).map { _ =>
        deleteTree(out)
        tracer.measured(sc, "avro.write")(
          delta.write.format("avro").option("codec", w.codec).save(out.getPath))
      })
      val mb = bytesUnder(out) / 1e6
      tally.record("traced delta write", Check.count("delta rows", avroRows(out), m.deltaRows))
      deleteTree(out)
      (run, mb)
    }
    val distinct = Option.when(!w.keyed)(VennDiff.counted(o, n).count().toDouble)
    reset(spark, in)
    spark.stop()
    tracer.write(new File(a.work, "spans.jsonl"))

    val rows = (m.rowsOld + m.rowsNew).toDouble
    val readS = read.wallS
    val readKeyS = readKey.map(_.wallS).getOrElse(0.0)
    val untracedS = median(plain.toSeq)
    val tracedS = median(withSpans.toSeq)
    val diffPassCpu = fullDiff.orElse(counted).map(_.counters.taskCpuNs.toDouble).getOrElse(0.0)
    val summaryCounts = summary.map(_.value).getOrElse(Map.empty[String, Long])
    val diffRows = summaryCounts.values.sum.toDouble
    val layerMetrics = Seq(
      Metric("avro.read_s", readS, "s"),
      Metric("avro.read_rows_per_core_s", rows / (readS * a.cores), "1/s"),
      Metric("avro.read_mb_per_s", (m.bytesOld + m.bytesNew) / 1e6 / readS, "MB/s"),
      Metric("avro.splits", read.counters.tasks.toDouble, "count"),
      Metric("avro.read_key_s", readKeyS, "s"),
      Metric("avro.projection_ratio", if (w.keyed) readKeyS / readS else 0.0, "ratio"),
      Metric("avro.write_s", write.map(_._1.wallS).getOrElse(0.0), "s"),
      Metric("avro.write_mb", write.map(_._2).getOrElse(0.0), "MB"),
      Metric("canon.self_s", canon.wallS - readS, "s"),
      Metric("datatests.key_unique_s", keyUnique.map(_.wallS).getOrElse(0.0), "s"),
      Metric("keydiff.join_self_s", join.map(_.wallS - readS).getOrElse(0.0), "s"),
      Metric("keydiff.fielddiff_self_s",
        fullDiff.zip(join).map { case (f, j) => f.wallS - j.wallS }.getOrElse(0.0), "s"),
      Metric("keydiff.summary_s", summary.map(_.wallS).getOrElse(0.0), "s"),
      Metric("keydiff.changed_frac",
        if (diffRows > 0) summaryCounts.getOrElse("changed", 0L) / diffRows else 0.0, "ratio"),
      Metric("venn.counted_self_s", counted.map(_.wallS - canon.wallS).getOrElse(0.0), "s"),
      Metric("venn.distinct_ratio", distinct.map(_ / rows).getOrElse(0.0), "ratio"),
      Metric("report.s", report.wallS, "s"),
      Metric("report.jobs", report.counters.jobs.toDouble, "count"),
      Metric("report.rework_ratio",
        if (diffPassCpu > 0) report.counters.taskCpuNs / diffPassCpu else 0.0, "ratio"),
      Metric("cli.cold_overhead_s", cold.map(_.wallS - untracedS).getOrElse(0.0), "s"),
      Metric("trace.overhead_s", tracedS - untracedS, "s"),
      Metric("diff_wall_tail_s", tail(plain.toSeq)._2, "s"),
      Metric("cli.peak_rss_mb", cold.fold(0.0)(_.peakRssMb), "MB"))
    val byLayer: Map[String, Option[Measured[_]]] = Map(
      "read" -> Some(read), "read_key" -> readKey, "canon" -> Some(canon),
      "key_unique" -> keyUnique, "join" -> join, "diff" -> fullDiff, "summary" -> summary,
      "counted" -> counted, "report" -> Some(report), "write" -> write.map(_._1))
    val counterMetrics = SparkLayers.flatMap(l => sparkMetrics(l, byLayer(l), a.cores))
    printTable("per-layer (traced run; 0 = layer not on this workload's path)", layerMetrics,
      Map("trace.overhead_s" -> f"traced $tracedS%.3f s - untraced $untracedS%.3f s",
        "diff_wall_tail_s" -> tailNote(plain.length, tail(plain.toSeq)._1),
        "cli.cold_overhead_s" -> cold.fold("cold run failed")(c =>
          f"cli ${c.wallS}%.3f s - diff $untracedS%.3f s")))
    printTable("Spark runtime per layer call", counterMetrics, Map.empty)
    layerMetrics ++ counterMetrics
  }

  /** Expects the inputs that `Gen.main` wrote into `--work DIR/data`. */
  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val dataDir = new File(a.work, "data")
    val m = Manifest.read(dataDir)
    if (a.coldOnly) {
      val c = coldRun(a.w, m, dataDir, new Tally)
      println(c.fold("cold-failed")(c => s"cold ${c.wallS} ${c.peakRssMb}"))
      sys.exit(0)
    }
    println(s"# input: ${m.toJson}")
    val tally = new Tally
    val ms = if (a.trace) traced(a, m, dataDir, tally) else untraced(a, m, dataDir, tally)
    // After the runs, so that nothing of Spark loads before the cold CLI run.
    println(s"# host: nproc=${a.cores} jdk=${System.getProperty("java.version")} " +
      s"spark=${org.apache.spark.SPARK_VERSION} seed=${a.seed} workload=${a.w.name} " +
      s"trace=${if (a.trace) 1 else 0} heap=${Runtime.getRuntime.maxMemory / (1 << 20)}MB")
    println(resultJson(tally.failed == 0, tally, ms))
    Console.out.flush()
    sys.exit(0)
  }
}
