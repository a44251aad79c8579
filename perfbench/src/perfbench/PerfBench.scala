package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{html_blocks, pdf_glyph_runs}
import graft.functions.TextFunctions.{plainNormalize, sniff}
import graft.gen.TranscriptGen
import graft.operators.Extract
import graft.plans.ExtractionJob

/** Benchmark of the shipped extraction job, `ExtractionJob.run`.
  *
  * One invocation runs one workload in one JVM and prints a single
  * `PERFBENCH_RESULT {json}` line last; `perfbench/run.py` builds, launches
  * and validates it. Usage:
  *
  * {{{
  * PerfBench --workload mixed|plain-short|resume-waves --seed N
  *   --seconds S --trace 0|1 --scratch DIR [--smoke]
  * }}}
  *
  * `--trace 0` measures the end-to-end metrics with tracing off: the job
  * at local[4], an already-complete re-run, then the job at local[1] in a
  * fresh session of the same JVM. `--trace 1` measures the per-layer
  * metrics: one traced run of the job with the [[Recorder]] attached,
  * then each layer's public functions timed over the workload's input.
  * Each timed job's output is checked against the generator's goldens
  * outside the timed region.
  */
object PerfBench {

  /** @param genTurns turns the generator makes before class filtering
    * @param classes generator classes kept (None = the natural mix)
    * @param waveBuckets Some(w): the timed run resumes an outDir whose
    *   even buckets are already committed, in waves of w buckets
    */
  final case class Workload(name: String, genTurns: Long,
      classes: Option[Seq[String]], numBuckets: Int,
      waveBuckets: Option[Int]) {
    def resume: Boolean = waveBuckets.isDefined
  }

  /** same input files at both widths */
  val InputFiles = 4
  val Formats = Seq("plain", "html", "pdf", "tooljson", "blank")

  def workloads(smoke: Boolean): Seq[Workload] = {
    val n = if (smoke) 2000L else 12000L
    Seq(
      Workload("mixed", n, None, 32, None),
      // the generator's class labels, not sniff, pick the rows, so a
      // routing change cannot change this input
      Workload("resume-waves", n, Some(Seq("plain", "tooljson", "blank")),
        16, Some(8)))
  }

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, scratch: String, smoke: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--scratch"), args.contains("--smoke"))
  }

  // ------------------------------------------------------------ results

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def metric(name: String, v: Double, unit: String): Unit =
    metrics(name) = (v, unit)

  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private def attempt(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failures += what; println(s"FAILED: $what") }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  // ------------------------------------------------------------ files

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }

  /** parquet part files under `dir`, recursively */
  private def partFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) partFiles(f)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    }

  // ------------------------------------------------------------ session

  def session(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$scratch/hadoop")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------------------ inputs

  /** generator class: lowconf rows carry an html/pdf path and fallback */
  private val classCol: Column =
    when(col("expected_status") === "fallback" &&
      col("expected_path").isin("html", "pdf"), "lowconf")
      .otherwise(col("expected_path"))

  final case class Inputs(input: String, gold: String, rows: Long,
      bytes: Long)

  /** Writes the workload's input table and goldens under `dir` from
    * `TranscriptGen`; the program sees only the input table. Prints the
    * input's properties.
    */
  def generate(spark: SparkSession, w: Workload, seed: Long,
      dir: String): Inputs = {
    import spark.implicits._
    val all = spark.range(0, w.genTurns, 1, InputFiles)
      .map(i => TranscriptGen.turnAt(i, seed))
      .withColumn("class", classCol)
    val kept = w.classes.fold(all)(cs => all.filter(col("class").isin(cs: _*)))
      .cache()
    kept.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.parquet(s"$dir/input")
    kept.select("conv_id", "turn_idx", "expected_text", "expected_path",
      "expected_status", "expected_spans").write.parquet(s"$dir/gold")
    val byClass = kept.groupBy("class")
      .agg(count(lit(1)), avg(coalesce(octet_length(col("text")), lit(0))),
        sum(when(col("conv_id").startsWith("mega-"), 1).otherwise(0)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
    kept.unpersist()
    val rows = byClass.map(_._2).sum
    val mega = byClass.map(_._4).sum
    val files = partFiles(new File(s"$dir/input"))
    val bytes = files.map(_.length).sum
    println("input " + obj(Seq(
      "workload" -> str(w.name), "seed" -> seed.toString,
      "rows" -> rows.toString, "input_bytes" -> bytes.toString,
      "parquet_files" -> files.length.toString,
      "mega_conversation_rows" -> mega.toString,
      "classes" -> obj(byClass.map { case (c, n, b, _) =>
        c -> obj(Seq("share" -> num(n.toDouble / rows),
          "mean_payload_bytes" -> num(b)))
      }.toSeq))))
    Inputs(s"$dir/input", s"$dir/gold", rows, bytes)
  }

  // ------------------------------------------------------------ the job

  final case class JobRun(wall: Double, t0: Long, t1: Long, turns: Long,
      buckets: Seq[Int], peakMb: Double)

  /** One `ExtractionJob.run` call, timed from the call until its returned
    * manifest is collected.
    */
  def runJob(spark: SparkSession, rec: Recorder, input: String,
      cfg: ExtractionJob.Config, only: Option[Seq[Int]] = None): JobRun = {
    val in = spark.read.parquet(input)
    rec.reset()
    val t0 = System.currentTimeMillis()
    val (m, wall) = timeS(ExtractionJob.run(spark, in, cfg, only).collect())
    val t1 = System.currentTimeMillis()
    PerfBenchBus.drain(spark.sparkContext)
    JobRun(wall, t0, t1, m.map(_.getAs[Long]("turns_processed")).sum,
      m.map(_.getAs[Int]("bucket")).toSeq.sorted, rec.peakBytes / 1048576.0)
  }

  /** The output check: per-turn text, path, status and spans equal the
    * goldens; exactly one complete manifest row per written bucket;
    * Σ turns_processed equals the input rows; rows inside every bucket
    * file are in (conv_id, turn_idx) order. Returns the failures.
    */
  def check(spark: SparkSession, outDir: String, in: Inputs): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val data = spark.read.parquet(s"$outDir/data")
    val differs = !(col("text") <=> col("expected_text")) ||
      !(col("path") <=> col("expected_path")) ||
      !(col("status") <=> col("expected_status")) ||
      !(col("spans") <=> col("expected_spans"))
    val joined = data.withColumn("__out", lit(1))
      .join(spark.read.parquet(in.gold).withColumn("__gold", lit(1)),
        Seq("conv_id", "turn_idx"), "full_outer")
    val j = joined.agg(sum(when(differs, 1).otherwise(0)),
      count(col("__out")), count(col("__gold"))).head()
    if (j.getLong(0) > 0)
      errs += s"${j.getLong(0)} turns differ from the goldens, e.g. " +
        joined.filter(differs).select("conv_id", "turn_idx", "path",
          "expected_path", "status", "expected_status").take(3).mkString(" ")
    if (j.getLong(1) != in.rows || j.getLong(2) != in.rows)
      errs += s"data table has ${j.getLong(1)} rows, goldens ${j.getLong(2)}"

    val man = spark.read.option("mergeSchema", "true")
      .parquet(s"$outDir/_manifest").filter(col("status") === "complete")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("turns_processed").as("turns"))
      .collect()
    val dataBuckets = Option(new File(s"$outDir/data").listFiles()).toSeq.flatten
      .map(_.getName).collect { case s"bucket=$b" => b.toInt }.toSet
    if (man.exists(_.getLong(1) != 1))
      errs += "a bucket has more than one complete manifest row"
    if (man.map(_.getInt(0)).toSet != dataBuckets)
      errs += "manifest buckets differ from the data table's buckets"
    val turns = man.map(_.getLong(2)).sum
    if (turns != in.rows) errs += s"manifest counts $turns turns, input ${in.rows}"

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("file").orderBy("rn")
    val disorder = data.select("conv_id", "turn_idx")
      .withColumn("file", input_file_name())
      .withColumn("rn", monotonically_increasing_id())
      .withColumn("pc", lag("conv_id", 1).over(w))
      .withColumn("pt", lag("turn_idx", 1).over(w))
      .filter(col("pc") > col("conv_id") ||
        (col("pc") === col("conv_id") && col("pt") >= col("turn_idx")))
      .count()
    if (disorder > 0) errs += s"$disorder rows out of (conv_id, turn_idx) order"
    errs.toSeq
  }

  /** The workload's job: outDir preparation, config and expected turns. */
  final class Driver(spark: SparkSession, rec: Recorder, w: Workload,
      in: Inputs, scratch: String, pristine: Option[(String, Long)]) {
    val outDir = s"$scratch/out"
    val cfg = ExtractionJob.Config(outDir, w.numBuckets,
      waveBuckets = w.waveBuckets)
    val expected: Long = in.rows - pristine.fold(0L)(_._2)

    /** a fresh outDir: empty, or the restored half-committed copy */
    def prepare(): Unit = {
      rm(new File(outDir))
      pristine.foreach(p => copyTree(new File(p._1).toPath, new File(outDir).toPath))
    }

    def once(tag: String): JobRun = {
      prepare()
      val r = runJob(spark, rec, in.input, cfg)
      attempt(r.turns == expected,
        s"$tag run processed ${r.turns} turns, expected $expected")
      r
    }

    /** warm-up runs, each printed; returns the phase's wall */
    def warmUp(n: Int, tag: String): Double = timeS {
      (1 to n).foreach { i =>
        println(f"warm-up $tag $i/$n: ${once(s"warm-up $tag").wall}%.3f s")
      }
    }._2

    def timed(n: Int, tag: String): Seq[JobRun] = (1 to n).map { i =>
      val r = once(tag)
      println(f"timed $tag${if (n > 1) s" $i/$n" else ""}: ${r.wall}%.3f s")
      r
    }

    /** one run on the already-complete outDir; returns its wall */
    def rerun(tag: String): Double = {
      val r = runJob(spark, rec, in.input, cfg)
      attempt(r.turns == 0, s"$tag on a complete outDir processed ${r.turns} turns")
      println(f"$tag: ${r.wall}%.3f s")
      r.wall
    }

    def checkOutput(tag: String): Unit = {
      val (errs, t) = timeS(check(spark, outDir, in))
      println(f"output check $tag: ${if (errs.isEmpty) "ok" else "FAILED"} ($t%.3f s)")
      attempt(errs.isEmpty, s"$tag output check: ${errs.mkString("; ")}")
    }
  }

  /** Half the buckets (the even ids) committed by an untimed
    * `run(onlyBuckets = ...)`; timed runs start from a copy of it.
    */
  def commitHalf(spark: SparkSession, rec: Recorder, w: Workload,
      in: Inputs, scratch: String): (String, Long) = {
    val dir = s"$scratch/pristine"
    val r = runJob(spark, rec, in.input, ExtractionJob.Config(dir, w.numBuckets),
      Some(0 until w.numBuckets by 2))
    (dir, r.turns)
  }

  // ------------------------------------------------------------ tracing

  /** total length of the union of intervals */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  private def clip(a: Long, b: Long, lo: Long, hi: Long) =
    (math.max(a, lo), math.min(b, hi))

  private def maxOverMedian(xs: Seq[Long]): Double =
    if (xs.isEmpty) 0.0
    else { val m = median(xs.map(_.toDouble)); if (m > 0) xs.max / m else 0.0 }

  /** Span tree of one traced run (root = the `run` call, children = Spark
    * jobs named by call site, grandchildren = their stages), printed with
    * self times, and the `plans.job.*` metrics derived from it.
    */
  def planMetrics(r: JobRun, rec: Recorder, in: Inputs, outDir: String): Unit = {
    val (tasks, stages, jobs0, execs) = rec.snapshot
    val jobs = jobs0.sortBy(_.start)
    val byStage = tasks.groupBy(_.stage)
    val stageJob: Map[Int, JobRec] = stages.flatMap { s =>
      jobs.find(j => j.stageIds.contains(s.id) && j.start <= s.start && s.start <= j.end)
        .map(s.id -> _)
    }.toMap

    // spans; a job started by adaptive execution carries no call site of
    // its own, so it is named after its SQL execution's
    val execName = execs.map(e => e.id -> e.name).toMap
    def jobName(j: JobRec) =
      if (j.site.contains(".java:")) execName.getOrElse(j.exec, j.site) else j.site
    val wallMs = r.t1 - r.t0
    val jobIv = jobs.map(j => clip(j.start, j.end, r.t0, r.t1))
    val rootSelf = wallMs - covered(jobIv)
    var selfSum = rootSelf
    println(f"trace span run ${wallMs / 1e3}%.3f s, self ${rootSelf / 1e3}%.3f s")
    jobs.zip(jobIv).foreach { case (j, (a, b)) =>
      val st = stages.filter(s => stageJob.get(s.id).contains(j)).sortBy(_.start)
      val stIv = st.map(s => clip(s.start, s.end, a, b))
      val self = (b - a) - covered(stIv)
      selfSum += self + stIv.map(x => math.max(0L, x._2 - x._1)).sum
      println(f"trace span   job ${j.id} [${jobName(j)}] ${(b - a) / 1e3}%.3f s," +
        f" self ${self / 1e3}%.3f s; stages " + st.zip(stIv).map { case (s, (c, d)) =>
          f"${s.id}: ${(d - c) / 1e3}%.3f s/${s.numTasks} tasks"
        }.mkString(", "))
    }
    println(f"trace self times sum to ${selfSum / 1e3}%.3f s of a" +
      f" ${wallMs / 1e3}%.3f s run")

    // the data-write executions: those whose plan scans the input table
    val inputPath = new File(in.input).getAbsolutePath
    val rootOf = execs.map(e => e.id -> e.root).toMap
    val dataExecs = execs.filter(e => e.id == e.root && e.plan.contains(inputPath))
      .sortBy(_.start)
    val dataIds = dataExecs.map(_.id).toSet
    val dataStages = stages.filter(s =>
      stageJob.get(s.id).exists(j => dataIds.contains(rootOf.getOrElse(j.exec, j.exec))))
    def tasksOf(ss: Seq[StageRec]) = ss.flatMap(s => byStage.getOrElse(s.id, Nil))
    val (mapStages, writeStages) =
      dataStages.partition(s => byStage.getOrElse(s.id, Nil).exists(_.bytesRead > 0))
    val mapTasks = tasksOf(mapStages)
    val writeTasks = tasksOf(writeStages)
    val nonEmptyWrites = writeTasks.filter(_.recordsWritten > 0)
    val manifestMs = dataExecs.zipWithIndex.map { case (e, i) =>
      val next = if (i + 1 < dataExecs.length) dataExecs(i + 1).start else r.t1
      math.max(0L, next - e.end)
    }.sum
    val outFiles = r.buckets.flatMap(b => partFiles(new File(s"$outDir/data/bucket=$b")))

    metric("plans.job.map_stage_s", mapStages.map(s => s.end - s.start).sum / 1e3, "s")
    metric("plans.job.map_tasks", mapTasks.length, "count")
    metric("plans.job.map_task_max_over_median", maxOverMedian(mapTasks.map(_.durMs)), "ratio")
    metric("plans.job.scan_bytes", mapTasks.map(_.bytesRead).sum.toDouble, "bytes")
    metric("plans.job.input_scans", dataExecs.length, "count")
    metric("plans.job.shuffle_bytes", mapTasks.map(_.shuffleBytes).sum.toDouble, "bytes")
    metric("plans.job.shuffle_write_s", mapTasks.map(_.shuffleWriteNs).sum / 1e9, "s")
    metric("plans.job.write_stage_s", writeStages.map(s => s.end - s.start).sum / 1e3, "s")
    metric("plans.job.write_nonempty_tasks", nonEmptyWrites.length, "count")
    metric("plans.job.write_task_max_over_median",
      maxOverMedian(nonEmptyWrites.map(_.durMs)), "ratio")
    metric("plans.job.sort_s", writeTasks.map(_.sortMs).sum / 1e3, "s")
    metric("plans.job.spill_bytes", tasks.map(_.diskSpill).sum.toDouble, "bytes")
    metric("plans.job.files_written", outFiles.length, "count")
    metric("plans.job.bytes_written", outFiles.map(_.length).sum.toDouble, "bytes")
    metric("plans.job.manifest_s", manifestMs / 1e3, "s")
    metric("plans.job.driver_s", rootSelf / 1e3, "s")
    metric("plans.job.spark_jobs", jobs.length, "count")
    metric("plans.job.waves", dataExecs.length, "count")
  }

  /** Core-milliseconds the tasks of one noop write of `df` were busy,
    * as the median of `reps` writes.
    */
  private def busyMs(spark: SparkSession, rec: Recorder, df: DataFrame,
      reps: Int): Double = median((1 to reps).map { _ =>
    rec.reset(); rec.detail = true
    df.write.format("noop").mode("overwrite").save()
    PerfBenchBus.drain(spark.sparkContext)
    rec.detail = false
    rec.snapshot._1.map(_.runMs).sum.toDouble
  })

  /** A cached frame in one partition, and its first row alone: the
    * busy-time difference of a call over the two is the call's cost of
    * `rows - 1` turns, free of its per-task set-up.
    */
  final case class Sample(all: DataFrame, one: DataFrame, rows: Long) {
    def unpersist(): Unit = { all.unpersist(); one.unpersist(); () }
  }

  private def sample(df: DataFrame): Sample = {
    val all = df.coalesce(1).cache()
    val one = all.limit(1).cache()
    Sample(all, one, math.max(all.count(), one.count()))
  }

  /** (busy core-µs per turn, busy core-ms of one task's set-up) of `f`
    * over `s`; (0, 0) when `s` has fewer than two rows.
    */
  private def cost(spark: SparkSession, rec: Recorder, s: Sample, reps: Int)(
      f: DataFrame => DataFrame): (Double, Double) =
    if (s.rows < 2) (0.0, 0.0)
    else {
      val setup = busyMs(spark, rec, f(s.one), reps)
      ((busyMs(spark, rec, f(s.all), reps) - setup) * 1e3 / (s.rows - 1), setup)
    }

  /** Per-layer costs from outside each layer: its public functions forced
    * through noop writes over the workload's cached input, split by
    * sniffed format. Costs are busy core-µs per turn of that format net
    * of per-task set-up, 0 when the workload has no such turns.
    */
  def layerMetrics(spark: SparkSession, rec: Recorder, in: Inputs,
      outDir: String, reps: Int): Unit = {
    val inp = sample(spark.read.parquet(in.input))
    val fmt = inp.all.withColumn("__fmt", sniff(col("text"), col("tool")))
    val split = Formats.map(f =>
      f -> sample(fmt.filter(col("__fmt") === f).drop("__fmt"))).toMap
    def us(s: Sample)(f: DataFrame => DataFrame): Double =
      cost(spark, rec, s, reps)(f)._1

    metric("functions.sniff.us_per_turn",
      us(inp)(_.select(sniff(col("text"), col("tool")))), "us/turn")
    Formats.foreach(f =>
      metric(s"functions.sniff.rows.$f", split(f).rows.toDouble, "count"))
    metric("functions.plain_normalize.us_per_turn",
      us(split("plain"))(_.select(plainNormalize(col("text")))), "us/turn")
    metric("expressions.html_blocks.us_per_turn",
      us(split("html"))(_.select(html_blocks(col("text")))), "us/turn")
    metric("expressions.pdf_glyph_runs.us_per_turn",
      us(split("pdf"))(_.select(pdf_glyph_runs(col("text")))), "us/turn")
    val extract = Formats.map(f => f -> cost(spark, rec, split(f), reps)(Extract(_)))
    extract.foreach { case (f, (perTurn, _)) =>
      metric(s"operators.extract.us_per_turn.$f", perTurn, "us/turn")
    }
    metric("operators.extract.task_setup_ms",
      median(extract.collect { case (f, (_, setup)) if split(f).rows > 0 => setup }),
      "ms")

    val out = spark.read.parquet(s"$outDir/data")
    val (n, fb, tr) = {
      val r = out.agg(count(lit(1)),
        sum(when(col("status") === "fallback", 1).otherwise(0)),
        sum(when(col("truncated"), 1).otherwise(0))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    metric("operators.extract.fallback_ratio", if (n > 0) fb.toDouble / n else 0.0, "ratio")
    metric("operators.extract.truncated_turns", tr.toDouble, "count")
    (split.values ++ Seq(inp)).foreach(_.unpersist())
  }

  // ------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = workloads(o.smoke).find(_.name == o.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val rec = new Recorder
    val scratch = new File(o.scratch).getAbsolutePath
    var spark: SparkSession = null
    def start(cores: Int): Double = {
      val (s, t) = timeS(session(cores, scratch))
      s.sparkContext.addSparkListener(rec)
      spark = s
      t
    }
    // timed runs per phase, in proportion to `seconds`
    def runs(share: Double) = if (o.smoke) 1 else math.max(1, math.round(share * o.seconds).toInt)
    val warm4 = if (o.smoke) 1 else 4
    val n = runs(0.4)
    try {
      val boot4 = start(4)
      val (in, genS) = timeS(generate(spark, w, o.seed, s"$scratch/gen"))
      println(f"input generated in $genS%.3f s")
      // on resume-waves the run that commits the even buckets is the
      // first warm-up run
      val (pristine, halfS) = timeS(
        if (w.resume) Some(commitHalf(spark, rec, w, in, scratch)) else None)
      if (w.resume) println(f"warm-up 4c (commits the even buckets): $halfS%.3f s")
      var d = new Driver(spark, rec, w, in, scratch, pristine)
      // the warm-up re-run needs the complete outDir of a warm-up run
      val warmS4 = halfS +
        d.warmUp(math.max(1, if (w.resume) warm4 - 1 else warm4), "4c") +
        d.rerun("warm-up rerun")

      if (!o.trace) {
        // each timed run is followed by a re-run on its complete outDir, so
        // that both spread over the phase (host noise comes in spells of
        // seconds) and every re-run follows a full run alike
        val (r4, noop) = (1 to n).map { i =>
          val r = d.timed(1, s"4c $i/$n").head
          (r, d.rerun(s"timed rerun $i/$n"))
        }.unzip
        d.checkOutput("4c")
        val outBytes = partFiles(new File(s"${d.outDir}/data")).map(_.length).sum
        spark.stop()

        val boot1 = start(1)
        d = new Driver(spark, rec, w, in, scratch, pristine)
        val warmS1 = d.warmUp(1, "1c")
        val r1 = d.timed(n, "1c")

        // closed-loop throughput: the median timed run's
        def tps(rs: Seq[JobRun]) = median(rs.map(r => r.turns / r.wall))
        val tps4 = tps(r4)
        val tps1 = tps(r1)
        println(f"setup: session 4c $boot4%.3f s, warm-up 4c $warmS4%.3f s," +
          f" session 1c $boot1%.3f s, warm-up 1c $warmS1%.3f s")
        metric("job_tps_4c", tps4, "turns/s")
        metric("job_tps_1c", tps1, "turns/s")
        metric("scaling_eff_1to4", tps4 / (4 * tps1), "ratio")
        metric("rerun_noop_s", median(noop), "s")
        metric("setup_s", boot4 + warmS4 + boot1 + warmS1, "s")
        metric("mem_peak_task_mb", median(r4.map(_.peakMb)), "MB")
        metric("out_bytes_per_in_byte", outBytes.toDouble / in.bytes, "ratio")
      } else {
        val untraced = d.timed(runs(0.2), "4c")
        d.prepare()
        rec.reset(); rec.detail = true
        val t = runJob(spark, rec, in.input, d.cfg)
        rec.detail = false
        attempt(t.turns == d.expected,
          s"traced run processed ${t.turns} turns, expected ${d.expected}")
        println(f"timed traced: ${t.wall}%.3f s")
        planMetrics(t, rec, in, d.outDir)
        d.checkOutput("traced")
        // run times still drift down as the JIT works, so the untraced
        // baseline is the runs just before and just after the traced one
        val after = d.once("untraced")
        println(f"timed 4c after traced: ${after.wall}%.3f s")
        val base = (untraced.last.wall + after.wall) / 2
        metric("trace.wall_s", t.wall, "s")
        metric("trace.overhead_s", t.wall - base, "s")
        layerMetrics(spark, rec, in, d.outDir, if (o.smoke) 1 else 3)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        attempt(ok = false, s"${e.getClass.getName}: ${e.getMessage}")
    } finally {
      if (spark != null) spark.stop()
    }
    val ok = failures.isEmpty
    println("PERFBENCH_RESULT " + obj(Seq(
      "correct" -> ok.toString,
      "attempted" -> math.max(attempted, 1).toString,
      "failed" -> failures.length.toString,
      "metrics" -> obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u)))
      }))))
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }
}
