package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`).
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --t0-ms <epoch ms> --cpus <n> --trace-out <file>
  *
  * Untraced (`--trace 0`): stage, warm up, then run timed rounds of the
  * workload's body until `--seconds` have passed (at least one), checking
  * the output after every round; prints the end-to-end metrics as medians
  * over rounds. Traced (`--trace 1`): stage, warm up, one round of the same
  * body with spans around the program's public calls, then the standalone
  * layer sub-runs (on `ingest_resume`, the label-absorb drain too); prints
  * the per-layer metrics and writes the spans to `--trace-out`. The last stdout line is `PERFBENCH_RESULT <json>`.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, t0Ms: Long, cpus: Int, traceOut: Path)

  /** Spark conf of the benchmark session (recorded in baseline.json). It is
    * `graft.Bench`'s session conf with the warehouse, scratch and local dirs
    * moved under the run's work dir. */
  def sessionConf(cpus: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.driver.host" -> "127.0.0.1",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "4096",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.files.maxPartitionBytes" -> "131072",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "65536",
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
    "spark.local.dir" -> work.resolve("local").toString)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("work")).toAbsolutePath, kv("t0-ms").toLong, kv("cpus").toInt,
      Paths.get(kv("trace-out")).toAbsolutePath)
    val code =
      try { run(o); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(o: Opts): Unit = {
    val tSession0 = System.nanoTime()
    val b = SparkSession.builder().appName("perfbench")
    sessionConf(o.cpus, o.work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    val env = Env(spark, o, jobs, (System.nanoTime() - tSession0) / 1e9)
    System.err.println(f"[perfbench] session ${env.sessionS}%.2f s")
    val w: Workload = o.workload match {
      case "ingest_slow_api" => new IngestWorkload(env, resume = false)
      case "ingest_resume"   => new IngestWorkload(env, resume = true)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    try {
      val result = if (o.trace) traced(env, w) else untraced(env, w)
      println("PERFBENCH_RESULT " + result)
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** Runs `f`, logging its wall time to stderr. */
  def logged[T](what: String)(f: => T): T = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val (t0, gc0, jit0) = (System.nanoTime(), gcMs, jitMs)
    try f finally System.err.println(f"[perfbench] $what%s ${(System.nanoTime() - t0) / 1e9}%.2f s" +
      f" (gc ${(gcMs - gc0) / 1e3}%.2f s, jit ${(jitMs - jit0) / 1e3}%.2f s)")
  }

  /** Timed rounds until `seconds` of wall have passed since the first. */
  private def untraced(env: Env, w: Workload): String = {
    val t0 = System.nanoTime()
    logged("stage")(w.stage())
    logged("warm-up")(w.warmUp())
    val rounds = mutable.ArrayBuffer.empty[Round]
    var setupS = 0.0
    val loopStart = System.nanoTime()
    var k = 0
    while (k == 0 || (System.nanoTime() - loopStart) / 1e9 < env.opts.seconds) {
      logged(s"prepare round $k")(w.prepareRound(k))
      if (k == 0) {
        setupS = (System.currentTimeMillis() - env.opts.t0Ms) / 1e3
        env.stageS = (System.nanoTime() - t0) / 1e9
      }
      rounds += logged(s"round $k")(w.round(k))
      System.err.println(f"[perfbench] round $k wall ${rounds.last.wallS}%.3f s")
      k += 1
    }
    def med(f: Round => Double) = Stats.median(rounds.map(f).toSeq)
    val metrics = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", med(_.wallS), "s"),
      ("rows_per_s", med(r => r.landed / r.wallS), "1/s"),
      ("requests_per_row", med(r => r.requests / r.due), "1/row"),
      ("landed_share", rounds.map(_.landed).sum / rounds.map(_.due).sum, "share"))
    result(rounds.toSeq, metrics)
  }

  /** One traced round, then the workload's standalone layer sub-runs. The
    * tracing overhead is this run's `trace.wall_s` against the untraced
    * runs' `wall_s`, so the run needs no second, untraced round. The
    * `streaming` and `operators` layers come from a drain sub-run in
    * `ingest_resume`'s traced run and read 0 on `ingest_slow_api`. */
  private def traced(env: Env, w: Workload): String = {
    val t0 = System.nanoTime()
    logged("stage")(w.stage())
    logged("warm-up")(w.warmUp())
    env.stageS = (System.nanoTime() - t0) / 1e9
    logged("prepare round 0")(w.prepareRound(0))
    val spans = new Spans
    val tracedRound = logged("traced round 0")(w.round(0, Some(spans)))
    val ingestLayers = logged("layer metrics")(w.layerMetrics(spans))
    val (drainRounds, drainLayers) =
      if (env.opts.workload == "ingest_resume") {
        val (round, metrics) = new DrainSubRun(env).run(spans)
        (Seq(round), metrics)
      } else (Nil, PerLayer.zeros(PerLayer.streamingAndOperators))
    val layer = ingestLayers ++ drainLayers ++ Seq(
      "setup.session_s" -> env.sessionS,
      "setup.stage_s" -> env.stageS,
      "trace.wall_s" -> tracedRound.wallS)
    Files.createDirectories(env.opts.traceOut.getParent)
    Files.writeString(env.opts.traceOut, spans.toJson)
    val units = PerLayer.units
    val missing = units.keySet -- layer.map(_._1).toSet
    require(missing.isEmpty, s"per-layer metrics not produced: ${missing.toSeq.sorted.mkString(", ")}")
    result(tracedRound +: drainRounds, layer.map { case (k, v) => (k, v, units(k)) })
  }

  private def result(rounds: Seq[Round], metrics: Seq[(String, Double, String)]): String = {
    val attempted = rounds.map(_.due.toLong).sum
    val failed = rounds.map(r => (r.due - r.landed).toLong).sum
    val correct = rounds.forall(_.correct)
    val m = metrics.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k":{"value":$v,"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$m}}"""
  }
}

/** Outcome of one timed round, after its correctness check. `landed` =
  * due rows that landed as correct output rows; `requests` = requests the
  * workload made of the service it depends on (API stub requests for
  * ingestion, Spark jobs for the drain sub-run). */
final case class Round(wallS: Double, due: Double, landed: Double, requests: Double,
    correct: Boolean)

trait Workload {
  /** Once-per-run untimed staging of the generated inputs. */
  def stage(): Unit
  /** Untimed pass of the body on a disjoint input. */
  def warmUp(): Unit
  /** Untimed per-round staging. */
  def prepareRound(k: Int): Unit
  /** The timed body and its correctness check; traced when `spans` is set. */
  def round(k: Int, spans: Option[Spans] = None): Round
  /** Per-layer metrics of the traced round plus the standalone sub-runs. */
  def layerMetrics(spans: Spans): Seq[(String, Double)]
  def close(): Unit
}

final case class Env(spark: SparkSession, opts: Main.Opts, jobs: JobListener, sessionS: Double) {
  var stageS = 0.0
  def path(rel: String): String = opts.work.resolve(rel).toString
}

object Env {
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val it = Files.walk(src).iterator()
    while (it.hasNext) {
      val p = it.next()
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
