package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamOps

/** The training-data drain at the x158b geometry, from public functions only:
  * the standalone sub-run of `ingest_resume`'s traced run that gives the
  * `streaming` and `operators` layer metrics.
  *
  * Staging: a fixed 5,000-doc corpus shaped like sf0.1 `documents` (the
  * seed picks the slice `r`); an N = 512 `Dedup.buildCanonicalLabels` +
  * `Dedup.buildLshIndex` base over the docs outside the streamed slice
  * `doc_id % 32 == r`; that slice written as three chunk files. The traced
  * drain runs the chunks through `StreamOps.labelAbsorbDrain` into the base,
  * and the labels must then equal `buildCanonicalLabels` rebuilt over the
  * whole corpus (the `StreamAbsorbRestartSpec` oracle).
  */
final class DrainSubRun(env: Env) {
  private val spark = env.spark
  private val seed = env.opts.seed
  private val r = Math.floorMod(ApiStub.mix(seed ^ 0x5eed), 32L)
  private val base = env.path("drain/base")
  private val stream = env.path("drain/stream")
  private var streamed = 0L
  private val corpusDocs = Corpus.docs(0L, 5000)

  private def corpus: DataFrame = spark.read.parquet(env.path("drain/corpus"))

  private def build(docs: DataFrame, root: String): Unit = {
    Main.logged("labels")(Dedup.buildCanonicalLabels(docs, "doc_id", "text", s"$root/labels",
      shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5, numBuckets = 512))
    Main.logged("index")(Dedup.buildLshIndex(docs, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 4))
  }

  /** Write `docs` as `chunks` ordered parquet files, one micro-batch each. */
  private def writeChunks(docs: DataFrame, dir: String, chunks: Int): Unit = {
    val tmp = dir + ".w"
    docs.repartition(chunks).write.mode("overwrite").parquet(tmp)
    val parts = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == chunks, s"staged ${parts.length} chunks, wanted $chunks")
    Files.createDirectories(Paths.get(dir))
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.move(f.toPath, Paths.get(dir, f"chunk-$i%04d.parquet"))
    }
  }

  private def stage(): Unit = {
    import spark.implicits._
    Main.logged("corpus")(corpusDocs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(env.path("drain/corpus")))
    build(corpus.filter(col("doc_id") % 32 =!= r), base)
    // The check's oracle: labels rebuilt over the whole corpus (any bucket
    // count reads back the same rows).
    Main.logged("oracle")(Dedup.buildCanonicalLabels(corpus, "doc_id", "text",
      env.path("drain/oracle/labels"), shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5))
    val slice = corpus.filter(col("doc_id") % 32 === r)
    streamed = slice.count()
    writeChunks(slice, stream, 3)
  }

  /** Stage, then drain the slice into the base with spans and listeners on;
    * returns the checked outcome and the layer metrics. */
  def run(sp: Spans): (Round, Seq[(String, Double)]) = {
    Main.logged("drain stage")(stage())
    val batches = new BatchListener
    spark.streams.addListener(batches)
    val a = System.currentTimeMillis()
    val t0 = System.nanoTime()
    Main.logged("drain")(sp("streaming.drain")(
      StreamOps.labelAbsorbDrain(spark, stream, s"$base/ckpt", s"$base/labels", s"$base/idx",
        "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)))
    val t1 = System.nanoTime()
    val b = System.currentTimeMillis()
    spark.streams.removeListener(batches)
    val mismatched = check()
    val jobs = env.jobs.jobsBetween(a, b)
    val round = Round((t1 - t0) / 1e9, streamed.toDouble,
      (streamed - math.min(streamed, mismatched)).toDouble, jobs.size.toDouble, mismatched == 0)
    (round, layerMetrics(batches, jobs, a, b))
  }

  /** Rows of the symmetric difference between the drained labels and the
    * full-corpus rebuild (a few thousand rows: compared on the driver). */
  private def check(): Long = {
    def rows(path: String) = Dedup.readLabels(spark, path).collect().toSeq
      .groupBy(identity).map { case (r, rs) => r -> rs.size }
    val oracle = rows(env.path("drain/oracle/labels"))
    val got = rows(s"$base/labels")
    (got.keySet ++ oracle.keySet).toSeq.map(r => math.abs(got.getOrElse(r, 0) - oracle.getOrElse(r, 0))).sum
  }

  private def layerMetrics(batches: BatchListener, jobs: Seq[JobRec], a: Long,
      b: Long): Seq[(String, Double)] = {
    val progress = {
      import scala.jdk.CollectionConverters._
      batches.progress.asScala.toSeq
    }
    def d(keys: String*): Double = progress.map(p => keys.map(p.getOrElse(_, 0L)).sum).sum / 1e3
    val trig = progress.map(_.getOrElse("triggerExecution", 0L) / 1e3)
    val labelled = jobs.filter(_.desc.startsWith("g:"))
    val phaseWall = labelled.groupBy(_.desc.stripPrefix("g:"))
      .map { case (ph, js) => ph -> js.map(j => (j.end - j.start) / 1e3).sum }
    val unlabeled = jobs.filterNot(_.desc.startsWith("g:")).map(j => (j.end - j.start) / 1e3).sum
    Seq(
      "streaming.batches" -> progress.count(_.getOrElse("numInputRows", 0L) > 0).toDouble,
      "streaming.batch_p50_s" -> Stats.median(trig),
      "streaming.batch_max_s" -> (if (trig.isEmpty) 0.0 else trig.max),
      "streaming.planning_s" -> d("queryPlanning"),
      "streaming.add_batch_s" -> d("addBatch"),
      "streaming.offsets_s" -> d("latestOffset", "getBatch"),
      "streaming.commit_s" -> d("walCommit", "commitOffsets"),
      "streaming.jobs" -> jobs.size.toDouble,
      "streaming.driver_idle_s" -> JobListener.idleSeconds(jobs, a, b),
      "operators.jobs" -> labelled.size.toDouble,
      "operators.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum.toDouble,
      "operators.output_bytes" -> jobs.map(_.outputBytes).sum.toDouble,
      "operators.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble
    ) ++ PerLayer.phaseMetrics(phaseWall, unlabeled)
  }
}

/** Seeded corpus shaped like sf0.1 `documents`, as measured there: 5,000
  * docs of 10 to 100 words (uniform) over a 30-word vocabulary; 5% of the
  * docs are another doc's text with " dup" appended, so that about 10% of
  * the docs sit in near-duplicate components of 2 to 4 docs. */
object Corpus {
  private val vocab = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key query a " +
    "scan batch").split(" ")

  /** `n` docs with ids 0 until `n`; 5% of them repeat another doc's text
    * plus " dup". */
  def docs(seed: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val texts = Array.fill(n)(Array.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    for (i <- 0 until n if rnd.nextDouble() < 0.05) texts(i) = texts(rnd.nextInt(n)) + " dup"
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }
}
