package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Semaphore}
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.auth.{AuthStrategy, RpcTokenProvider}
import graft.config.ConfigLoader
import graft.exec.{PartitionExecutor, WorkerResources}
import graft.model.TransportRequest
import graft.orchestration.{BatchHandler, BatchProcessor, PipelineOrchestrator, TableManager}

/** Config-to-bronze ingestion through the engine's public entry points.
  *
  * `ingest_slow_api` (`resume = false`): 10,000 orders keys of one residue
  * class mod 15 against the stub at exponential 50 ms mean delay with 1%
  * first-attempt 503s, OAuth2 client credentials through the driver token
  * RPC, sink in overwrite mode, one batch.
  *
  * `ingest_resume` (`resume = true`): the idempotent resume path. A
  * 60,000-row lineitem-shaped source (id `l_orderkey-l_linenumber`) whose
  * sink already holds every row but 2,400 (4%) picked by a seeded hash;
  * append mode, no auth, no injected errors, delay uniform over 150 to
  * 450 ms, batch size 600 (four batches). The pipeline anti-joins the
  * source against the held sink and requests only the missing rows.
  */
final class IngestWorkload(env: Env, resume: Boolean) extends Workload {
  import IngestWorkload._
  private val spark = env.spark
  private val seed = env.opts.seed
  private val cpus = env.opts.cpus
  private val concurrency = 20
  private val meanDelayMs = if (resume) 300.0 else 50.0
  private val token = if (resume) "" else s"perfbench-token-$seed"
  // The resume's delays are uniform: with exponential ones the seed's few
  // slowest requests decided when each of its four batches ended, and
  // that alone spread wall_s by ~10% across seeds.
  private val stub = new ApiStub(seed, meanDelayMs, exponentialDelay = !resume,
    if (resume) 0.0 else 0.01, token)
  private val sink = if (resume) "lineitem_api" else "orders_api"
  private val src = if (resume) Source("l_id", "l_ref", "l_partkey") else Source("o_orderkey", "o_ref", "o_custkey")
  private val r0 = Math.floorMod(ApiStub.mix(seed), 15L).toInt

  // per-round state
  private var configPath = ""
  private var due: DataFrame = _ // request_id, exp_body
  private var dueCount = 0L
  private var heldCount = 0L // resume: rows the sink holds before the round

  private def yaml(source: String, sinkName: String): String = {
    val auth =
      if (resume) ""
      else s"""auth:
              |  type: oauth2_client_credentials
              |  token_url: "${stub.baseUrl}/token"
              |  client_id: perfbench
              |  client_secret: perfbench-secret
              |""".stripMargin
    s"""endpoint:
       |  name: perfbench_$sink
       |  base_url: "${stub.baseUrl}"
       |  url_path: /api/data
       |  method: GET
       |${auth}middleware:
       |  - type: retry
       |  - type: json_body
       |  - type: timing
       |tables:
       |  source:
       |    name: $source
       |    namespace: src
       |    id_column: ${src.id}
       |    required_columns: [${src.ref}, ${src.cust}]
       |  sink:
       |    name: $sinkName
       |    namespace: bronze
       |    mode: ${if (resume) "append" else "overwrite"}
       |  column_mappings:
       |    - source_column: ${src.ref}
       |      endpoint_param: id
       |    - source_column: ${src.cust}
       |      endpoint_param: cust
       |execution:
       |  num_partitions: $cpus
       |  batch_size: ${if (resume) ResumeBatchSize else 10000}
       |  max_concurrent_requests: $concurrency
       |""".stripMargin
  }

  private def writeConfig(name: String, text: String): String = {
    val p = Paths.get(env.path(s"configs/$name.yml"))
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
    p.toString
  }

  /** The first `n` keys of the orders residue class `o_orderkey % 15 == r`,
    * shaped like sf0.1 `orders` (keys 0..149,999, so each class holds
    * 10,000; `o_custkey` uniform over 0..14,999, drawn from the seed). */
  private def ordersSlice(r: Int, n: Int): DataFrame =
    spark.range(n).select((lit(r.toLong) + col("id") * 15L).as("o_orderkey"))
      .withColumn("o_custkey", pmod(xxhash64(lit(seed), col("o_orderkey")), lit(15000L)))
      .withColumn("o_ref", col("o_orderkey").cast("string"))

  /** `n` lineitem-shaped rows from `l_orderkey = firstOrder` on, four
    * lines per order: id `l_orderkey-l_linenumber`, `l_partkey` drawn from
    * the seed over 0..19,999 (sf0.01 `lineitem`'s part key range). */
  private def lineitemSlice(firstOrder: Long, n: Int): DataFrame =
    spark.range(n).select(
      concat_ws("-", (lit(firstOrder) + col("id") / 4).cast("long"), (col("id") % 4 + 1))
        .as("l_id"))
      .withColumn("l_partkey", pmod(xxhash64(lit(seed), col("l_id")), lit(20000L)))
      .withColumn("l_ref", col("l_id"))

  private val expBody = udf((id: String, cust: String) => ApiStub.body(id, cust))

  /** Expected rows for a source frame: request_id and the stub's body. */
  private def expected(df: DataFrame): DataFrame =
    df.select(col(src.ref).as("request_id"),
      expBody(col(src.ref), col(src.cust).cast("string")).as("exp_body"))

  /** Bronze rows of an earlier successful run over `df`: what the sink holds
    * before a resume (the stub's body, one attempt). */
  private def heldBronze(df: DataFrame): DataFrame = {
    val body = expBody(col(src.ref), col(src.cust).cast("string"))
    df.select(
      col(src.id).as("request_id"),
      sha2(body, 256).as("row_hash"),
      lit(s"${stub.baseUrl}/api/data").as("url"),
      lit("GET").as("method"),
      lit("{}").as("request_headers"),
      to_json(map(lit("id"), col(src.ref), lit("cust"), col(src.cust).cast("string"))).as("request_params"),
      lit(null).cast("string").as("request_metadata"),
      lit(200).as("status_code"),
      lit("{}").as("response_headers"),
      body.as("body_text"),
      lit(true).as("success"),
      lit(null).cast("string").as("error_message"),
      lit(1).as("attempts"),
      lit(null).cast("string").as("response_metadata"),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("_request_time"))
  }

  private def saveTable(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").format("parquet").saveAsTable(s"src.$name")

  /** Resume inputs: source table `name` of `n` rows and the held sink rows
    * `<name>_held`, all but `dueRows` of them picked by a seeded hash;
    * returns the expected rows of the missing (due) ids. */
  private def stageResume(name: String, firstOrder: Long, n: Int, dueRows: Int): DataFrame = {
    saveTable(lineitemSlice(firstOrder, n), name)
    val all = spark.table(s"src.$name")
    val dueSrc = all.orderBy(xxhash64(lit(seed + 1), col("l_id")), col("l_id")).limit(dueRows)
      .localCheckpoint()
    saveTable(heldBronze(all.join(dueSrc.select("l_id"), Seq("l_id"), "left_anti")), s"${name}_held")
    expected(dueSrc).localCheckpoint()
  }

  /** Recreate sink `name` holding exactly the rows of `src.<held>`. */
  private def resetSink(config: String, name: String, held: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS bronze.$name")
    new TableManager(spark).createTable(ConfigLoader.fromFile(config).tables.sink)
    val order = spark.table(s"bronze.$name").schema.fieldNames.toSeq.map(col)
    spark.table(s"src.$held").select(order: _*).write.insertInto(s"bronze.$name")
  }

  def stage(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS src")
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze")
    if (resume) {
      due = stageResume("lineitem", 1L, ResumeSourceRows, ResumeDueRows)
      dueCount = due.count()
      heldCount = ResumeSourceRows - dueCount
      configPath = writeConfig("resume", yaml("lineitem", sink))
    }
  }

  /** A pipeline run on a disjoint source into its own sink: a small one
    * for `ingest_slow_api`, one of the body's shape for `ingest_resume`. */
  def warmUp(): Unit =
    if (resume) {
      stageResume("warm", 100000000L, ResumeSourceRows, ResumeDueRows)
      val config = writeConfig("warm", yaml("warm", "warm"))
      resetSink(config, "warm", "warm_held")
      PipelineOrchestrator.runPipelineFromFile(spark, config)
    } else {
      saveTable(ordersSlice(Math.floorMod(r0 + 14, 15), 800), "warm")
      PipelineOrchestrator.runPipelineFromFile(spark, writeConfig("warm", yaml("warm", "warm")))
    }

  def prepareRound(k: Int): Unit = {
    if (resume) resetSink(configPath, sink, "lineitem_held")
    else {
      val r = Math.floorMod(r0 + k, 15)
      saveTable(ordersSlice(r, 10000), s"orders_r$k")
      due = expected(spark.table(s"src.orders_r$k")).localCheckpoint()
      dueCount = 10000L
      configPath = writeConfig(s"round$k", yaml(s"orders_r$k", sink))
    }
    stub.resetIds()
  }

  // ---- timed body ----------------------------------------------------------

  private var lastRound: RoundStats = _

  def round(k: Int, spans: Option[Spans]): Round = {
    stub.resetConnections()
    stub.takeMaxInFlight()
    stub.takeSendLags()
    val s0 = stub.snapshot()
    spans match {
      case None => PipelineOrchestrator.runPipelineFromFile(spark, configPath)
      case Some(sp) => sp("pipeline")(composedPipeline(sp))
    }
    val s1 = stub.snapshot()
    val wallS = (s1.nanos - s0.nanos) / 1e9
    val requests = (s1.data - s0.data) + (s1.token - s0.token) + (s1.other - s0.other)
    lastRound = RoundStats(s0, s1, stub.takeMaxInFlight(), stub.takeSendLags(), stub.connections)
    val (failedRows, correct) = check()
    Round(wallS, dueCount.toDouble, (dueCount - failedRows).toDouble, requests.toDouble, correct)
  }

  private val batchWalls = mutable.ArrayBuffer.empty[Double]
  private var batchNonHttpS = 0.0
  private var firstHandlerNs = 0L

  /** runPipeline's steps, composed here so each public call can be timed:
    * ConfigLoader.fromFile → TableManager.createTable →
    * AuthStrategy.startRuntime → BatchProcessor.process, with the
    * BatchHandler.process calls wrapped in spans. */
  private def composedPipeline(sp: Spans): Unit = {
    val cfg = sp("config.load")(ConfigLoader.fromFile(configPath))
    val srcCfg = cfg.tables.source.get
    val raw = spark.table(srcCfg.identifier)
    require(srcCfg.validateColumns(raw.columns.toSeq)._1, "source columns")
    val source = PipelineOrchestrator.prepareSource(cfg, raw, srcCfg.idColumn)
    val tables = new TableManager(spark)
    sp("orchestration.sink_ddl")(tables.createTable(cfg.tables.sink))
    implicit val ec: scala.concurrent.ExecutionContext = WorkerResources.executionContext
    val (rpcUrl, stopRuntime) = sp("auth.runtime_start")(AuthStrategy.startRuntime(cfg.auth, "127.0.0.1"))
    try {
      val handler = new BatchHandler(cfg, rpcUrl, cfg.tables.sink.identifier, tables.format)
      val processor = new BatchProcessor(spark, source, cfg.tables.sink.identifier, cfg.execution)
      batchWalls.clear(); batchNonHttpS = 0.0; firstHandlerNs = 0L
      sp("orchestration.process") {
        processor.process { df =>
          if (firstHandlerNs == 0L) firstHandlerNs = System.nanoTime()
          val a = stub.snapshot()
          sp("orchestration.batch")(handler.process(df))
          val b = stub.snapshot()
          batchWalls += (b.nanos - a.nanos) / 1e9
          batchNonHttpS += ((b.nanos - a.nanos) - (b.busyNanos - a.busyNanos)) / 1e9
        }
      }
    } finally stopRuntime()
  }

  /** Every due id exactly once in bronze, successful, with the stub's body
    * and the stub's attempt count; no other rows but, on a resume, the held
    * rows exactly as staged. Returns (due rows that failed, check passed). */
  private def check(): (Long, Boolean) = {
    val bronze = spark.table(s"bronze.$sink")
    val stubAttempts = spark.createDataFrame(
      stub.attempts.asScala.toSeq.map { case (id, n) => (id, n.get) }).toDF("request_id", "stub_attempts")
    val landed = bronze.groupBy("request_id").agg(count(lit(1)).as("n"),
      first("success").as("success"), first("body_text").as("body"), first("attempts").as("attempts"))
    val ok = col("n") === 1 && col("success") && col("body") === col("exp_body") &&
      col("attempts") === col("stub_attempts")
    val failedRows = due.join(landed, Seq("request_id"), "left")
      .join(stubAttempts, Seq("request_id"), "left")
      .filter(!coalesce(ok, lit(false))).count()
    val others = bronze.join(due, Seq("request_id"), "left_anti")
    val othersOk =
      if (resume) others.count() == heldCount &&
        others.exceptAll(spark.table("src.lineitem_held").select(bronze.columns.toSeq.map(col): _*)).isEmpty
      else others.isEmpty
    (failedRows, failedRows == 0 && othersOk)
  }

  // ---- per-layer metrics ---------------------------------------------------

  def layerMetrics(sp: Spans): Seq[(String, Double)] = {
    val rs = lastRound
    val wallS = (rs.s1.nanos - rs.s0.nanos) / 1e9
    val data = (rs.s1.data - rs.s0.data).toDouble
    val proc = sp.named("orchestration.process").head
    val procMs = (proc.startMs, proc.endMs)
    val jobs = env.jobs.jobsBetween(procMs._1, procMs._2)
    val bronze = spark.table(s"bronze.$sink")
    val dueIds = due.select("request_id")
    val bodyRows = bronze.join(dueIds, Seq("request_id"), "left_semi")
    val retried = stub.attempts.asScala.count(_._2.get > 1)
    val retriedOk = bodyRows.filter(col("attempts") > 1 && col("success")).count()
    val bound = cpus * concurrency / (meanDelayMs / 1e3)
    // The standalone sub-runs drive the request stage without Spark; they
    // run on ingest_slow_api only and read 0 on ingest_resume.
    val (stageN, lagsN) = if (resume) (0.0, Seq(0.0)) else stageRun(cpus, 2000)
    val (stage1, _) = if (resume) (0.0, Nil) else stageRun(1, 400)
    val (directRps, replyLags) = if (resume) (0.0, Seq(0.0)) else directTransport(cpus * concurrency, 2000)
    Seq(
      "config.load_ms" -> sp.named("config.load").head.seconds * 1e3,
      "orchestration.sink_ddl_s" -> sp.named("orchestration.sink_ddl").head.seconds,
      "orchestration.remaining_s" -> (firstHandlerNs - proc.start) / 1e9,
      "orchestration.batches" -> batchWalls.size.toDouble,
      "orchestration.batch_p50_s" -> Stats.median(batchWalls.toSeq),
      "orchestration.batch_max_s" -> batchWalls.max,
      "orchestration.batch_nonhttp_s" -> batchNonHttpS,
      "orchestration.jobs" -> jobs.size.toDouble,
      "orchestration.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "orchestration.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum.toDouble,
      "orchestration.output_bytes" -> jobs.map(_.outputBytes).sum.toDouble,
      "orchestration.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
      "orchestration.driver_idle_s" -> JobListener.idleSeconds(jobs, procMs._1, procMs._2),
      "exec.inflight_mean" -> (rs.s1.integral - rs.s0.integral) / (rs.s1.nanos - rs.s0.nanos),
      "exec.inflight_max" -> rs.maxInFlight.toDouble,
      "exec.bound_share" -> data / wallS / bound,
      "exec.stage_rps" -> stageN,
      "exec.stage_rps_1p" -> stage1,
      "exec.yield_lag_p50_ms" -> Stats.quantile(lagsN, 0.5),
      "exec.yield_lag_p99_ms" -> Stats.quantile(lagsN, 0.99),
      "transport.direct_rps" -> directRps,
      "transport.reply_lag_p50_ms" -> Stats.quantile(replyLags, 0.5),
      "transport.reply_lag_p99_ms" -> Stats.quantile(replyLags, 0.99),
      "transport.connections" -> rs.connections.toDouble,
      "transport.errors" -> bodyRows.filter(col("status_code").isNull).count().toDouble,
      "middleware.retries" -> (data - dueCount),
      "middleware.retry_yield" -> (if (retried == 0) 0.0 else retriedOk.toDouble / retried),
      "auth.runtime_start_s" -> sp.named("auth.runtime_start").head.seconds,
      "auth.idp_requests" -> (rs.s1.token - rs.s0.token).toDouble,
      "auth.rpc_fetch_p50_ms" -> (if (resume) 0.0 else rpcFetchP50Ms(20)),
      "stub.send_lag_p99_ms" -> Stats.quantile(rs.sendLags.map(_ / 1e6).toSeq, 0.99)
    )
  }

  private def subRunRows(prefix: String, n: Int): Seq[Row] = {
    val schema = StructType(Seq(StructField("request_id", StringType),
      StructField("o_ref", StringType), StructField("o_custkey", LongType)))
    (0 until n).map { i =>
      val id = s"$prefix$i"
      new GenericRowWithSchema(Array[Any](id, id, i.toLong), schema): Row
    }
  }

  /** `PartitionExecutor.makeFn` driven directly on `parts` threads, no Spark:
    * request-stage throughput and the lag from reply written to the row
    * leaving the iterator (head-of-line wait). */
  private def stageRun(parts: Int, n: Int): (Double, Seq[Double]) = {
    val cfg = ConfigLoader.fromFile(configPath)
    implicit val ec: scala.concurrent.ExecutionContext = WorkerResources.executionContext
    val (rpcUrl, stopRuntime) = AuthStrategy.startRuntime(cfg.auth, "127.0.0.1")
    try {
      val fn = PartitionExecutor.makeFn(cfg, rpcUrl)
      val rows = subRunRows(s"x$parts-", n).grouped((n + parts - 1) / parts).toSeq
      val lags = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val t0 = System.nanoTime()
      val threads = rows.map { part =>
        val t = new Thread(() => {
          val it = fn(part.iterator)
          while (it.hasNext) {
            val id = it.next().getString(0)
            val now = System.nanoTime()
            Option(stub.lastWritten.get(id)).foreach(w => lags.add((now - w) / 1e6))
          }
        })
        t.start(); t
      }
      threads.foreach(_.join())
      (n / ((System.nanoTime() - t0) / 1e9), lags.asScala.toSeq)
    } finally stopRuntime()
  }

  /** `WorkerResources.engine(...).send` at `inFlight` outstanding requests:
    * raw transport throughput and the lag from reply written to the send
    * future completing. */
  private def directTransport(inFlight: Int, n: Int): (Double, Seq[Double]) = {
    val cfg = ConfigLoader.fromFile(configPath)
    val engine = WorkerResources.engine(cfg.transport, cfg.endpoint.baseUrl)
    implicit val ec: scala.concurrent.ExecutionContext = WorkerResources.executionContext
    val sem = new Semaphore(inFlight)
    val done = new CountDownLatch(n)
    val lags = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val headers = Map("Authorization" -> s"Bearer $token")
    val t0 = System.nanoTime()
    (0 until n).foreach { i =>
      sem.acquire()
      val id = s"t$i"
      engine.send(TransportRequest(cfg.endpoint.resolvedUrl, "GET", headers,
          Map("id" -> id, "cust" -> "0"))).onComplete { _ =>
        val now = System.nanoTime()
        Option(stub.lastWritten.get(id)).foreach(w => lags.add((now - w) / 1e6))
        sem.release(); done.countDown()
      }
    }
    done.await()
    (n / ((System.nanoTime() - t0) / 1e9), lags.asScala.toSeq)
  }

  /** `RpcTokenProvider.getToken` against a live driver token RPC. */
  private def rpcFetchP50Ms(n: Int): Double = {
    val cfg = ConfigLoader.fromFile(configPath)
    implicit val ec: scala.concurrent.ExecutionContext = WorkerResources.executionContext
    val (rpcUrl, stopRuntime) = AuthStrategy.startRuntime(cfg.auth, "127.0.0.1")
    try {
      val p = new RpcTokenProvider(rpcUrl.get)
      Stats.median((0 until n).map { _ =>
        val t0 = System.nanoTime()
        Await.result(p.getToken(), 30.seconds)
        (System.nanoTime() - t0) / 1e6
      })
    } finally stopRuntime()
  }

  def close(): Unit = stub.stop()
}

object IngestWorkload {
  val ResumeSourceRows = 60000
  val ResumeDueRows = 2400 // 4% of the source
  val ResumeBatchSize = 600

  /** Source columns: the id column, its string copy sent as the `id`
    * param, and the column sent as the `cust` param. */
  final case class Source(id: String, ref: String, cust: String)

  /** Stub counters around one timed round. */
  final case class RoundStats(s0: ApiStub.Snapshot, s1: ApiStub.Snapshot, maxInFlight: Int,
      sendLags: Array[Long], connections: Int)
}
