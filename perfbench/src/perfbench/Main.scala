package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.vector.VectorStore

/** One benchmark operation as the client saw it. */
final case class OpRec(kind: String, cycle: Int, traced: Boolean, span: Span, ok: Boolean,
                       rows: Long, queries: Int, shardsRewritten: Int = 0)

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, detail: String, cores: Int) {
  // The store and the write batches are the same in every run. The
  // corpus is smaller than a production store so that a run, three
  // builds included, takes about a minute (see README.md).
  val vectors = 20000
  val dim = 64
  val shards = 16
  val clusters = 32
  val spread = 2.0
  val setups = 3
  val upsertBatch = 1000
  val deleteBatch = 100
}

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}") }.toMap
    def get(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    Config(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("work"), get("detail"), get("cores").toInt)
  }
}

/** Closed-loop client: one thread issues graft's public vector-store
  * calls back to back, checks every result against the client-side
  * model, and prints one JSON line. See perfbench/README.md.
  */
final class Client(spark: SparkSession, cfg: Config) {
  private val sc = spark.sparkContext
  private val tracer = new Tracer(sc)
  private val mix = new Mixture(cfg.seed, cfg.dim, cfg.clusters, cfg.spread)
  private val model = new Model
  private val queryRng = mix.stream(2)
  private val writeRng = mix.stream(3)
  private val TopK = 10
  private val NProbe = 2

  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private var attempted = 0L
  private var failed = 0L
  private var opSeq = 0
  private var cycle = -1
  private var measuring = false
  private var nextQueryId = 0L
  private var nextVectorId = cfg.vectors.toLong
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var pinnedMb = 0.0
  private val lastUpserted = mutable.ArrayBuffer.empty[Long]

  private var store: VectorStore = _
  private var storeDir: String = _
  private var cents: Array[(Int, Array[Double])] = _

  private val vecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(DoubleType, containsNull = false), nullable = false)))
  private val querySchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("qv", ArrayType(DoubleType, containsNull = false), nullable = false)))

  // ---- set-up -------------------------------------------------------

  /** Builds the store `cfg.setups` times from the same corpus; returns
    * each build's seconds. The last store serves the workload.
    */
  def setup(): Seq[Double] = {
    Client.progress("generating the corpus")
    val rng = mix.stream(1)
    val corpus = Array.tabulate(cfg.vectors)(i => (i.toLong, mix.draw(rng)))
    // the corpus reaches graft as a parquet table, as a store's input
    // would; writing it is data generation and is not timed
    val corpusDir = s"${cfg.work}/corpus"
    spark.createDataFrame(
      java.util.Arrays.asList(corpus.map { case (id, v) => Row(id, v.toSeq) }: _*), vecSchema)
      .write.parquet(corpusDir)
    Client.progress("corpus written")
    val frame = spark.read.parquet(corpusDir)
    tracer.setCounting(cfg.trace)
    val times = (1 to cfg.setups).map { i =>
      storeDir = s"${cfg.work}/store-$i"
      store = new VectorStore(spark, storeDir, numShards = cfg.shards)
      val (_, span) = tracer.span(-i, "build", "vector")(store.build(frame))
      spark.catalog.clearCache()
      attempted += 1
      if (i < cfg.setups) deleteDir(storeDir)
      span.ms / 1000
    }
    tracer.setCounting(false)
    cents = store.centroids()
    val layout = spark.read.parquet(s"$storeDir/vectors").select("id", "shard")
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    val byId = corpus.toMap
    if (layout.length != cfg.vectors || layout.map(_._1).toSet != byId.keySet) {
      failed += 1
      sys.error(s"build wrote ${layout.length} rows, expected ${cfg.vectors} distinct ids")
    }
    layout.foreach { case (id, s) => model.put(id, byId(id), s) }
    times
  }

  // ---- operations ---------------------------------------------------

  private def query(): Array[Double] = mix.draw(queryRng)

  private def cleanup(df: Option[DataFrame]): Unit = {
    spark.catalog.clearCache()
    df.foreach(org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint)
    if (tracer.tracing) {
      val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      pinnedMb = math.max(pinnedMb, bytes / 1048576.0)
    }
  }

  private def record(kind: String, span: Span, ok: Boolean, rows: Long, queries: Int,
                     shardsRewritten: Int = 0): Unit = if (measuring) {
    attempted += 1
    if (!ok) failed += 1
    ops += OpRec(kind, cycle, tracer.tracing, span, ok, rows, queries, shardsRewritten)
  }

  private def failedSpan(kind: String, opId: Int): Span = {
    val now = System.nanoTime()
    Span(-1, 0, opId, kind, "op", now, now)
  }

  /** A call that returns a DataFrame: build it (vector layer), force the
    * physical plan (plans layer, where Catalyst and graft's strategies
    * run), then run the action (expressions layer).
    */
  private def readOp(kind: String, queries: Int)(build: => DataFrame)
                    (check: Array[Row] => Boolean): Unit = {
    opSeq += 1
    val opId = opSeq
    var df: Option[DataFrame] = None
    var plan: Option[Span] = None
    try {
      val (rows, span) = tracer.span(opId, kind, "op") {
        val (d, _) = tracer.span(opId, kind, "vector")(build)
        df = Some(d)
        val (_, planSpan) = tracer.span(opId, kind, "plans")(d.queryExecution.executedPlan)
        val (rows, _) = tracer.span(opId, kind, "expressions")(d.collect())
        plan = Some(planSpan)
        rows
      }
      // counted after the action: under AQE the exchanges are planned
      // as query stages while the action runs
      if (tracer.tracing)
        plan.foreach(_.exchanges = Client.exchanges(df.get.queryExecution.executedPlan))
      record(kind, span, check(rows), rows.length, queries)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: $kind failed: $e")
        record(kind, failedSpan(kind, opId), ok = false, 0, queries)
    } finally cleanup(df)
  }

  private def writeOp(kind: String)(call: => Array[Long])(check: => Boolean): Unit = {
    opSeq += 1
    val opId = opSeq
    try {
      val (touched, span) = tracer.span(opId, kind, "op") {
        tracer.span(opId, kind, "vector")(call)._1
      }
      record(kind, span, check, 0, 0, touched.length)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: $kind failed: $e")
        record(kind, failedSpan(kind, opId), ok = false, 0, 0)
    } finally cleanup(None)
  }

  private def truthIn(q: Array[Double], probes: Set[Int])(id: Long): Option[Double] =
    if (model.contains(id) && probes(model.shard(id))) Some(model.cosine(id, q)) else None

  /** Checks an IVF top-k against the client's reference and records its
    * recall against brute-force truth.
    */
  private def checkIvf(q: Array[Double], got: Seq[(Long, Double)]): (Boolean, Double) = {
    val probes = Model.probes(q, cents, NProbe)
    val (truth, ref) = model.top(q, TopK, probes)
    val exact = truth.map(_._1).toSet
    (Model.sameTopK(got, ref, truthIn(q, probes)), got.count(g => exact(g._1)).toDouble / TopK)
  }

  /** Checks every query's top-k, in parallel over queries. */
  private def checkAll(got: Array[(Array[Double], Seq[(Long, Double)])]): Boolean = {
    val res = new Array[(Boolean, Double)](got.length)
    java.util.Arrays.parallelSetAll[(Boolean, Double)](res,
      new java.util.function.IntFunction[(Boolean, Double)] {
        def apply(i: Int): (Boolean, Double) = checkIvf(got(i)._1, got(i)._2)
      })
    if (measuring) recalls ++= res.map(_._2)
    res.forall(_._1)
  }

  private def search(): Unit = {
    val q = query()
    readOp("search", 1)(store.search(q, topK = TopK, nprobe = NProbe)) { rows =>
      checkAll(Array(q -> rows.map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toSeq))
    }
  }

  private def exact(): Unit = {
    val q = query()
    readOp("exact", 1)(store.search(q, topK = TopK, nprobe = cfg.shards)) { rows =>
      val all = (0 until cfg.shards).toSet
      Model.sameTopK(rows.map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toSeq,
        model.top(q, TopK, all)._1, truthIn(q, all))
    }
  }

  private def get(id: Long): Unit =
    readOp("get", 1)(store.get(id)) { rows =>
      rows.length == 1 &&
        rows(0).getAs[scala.collection.Seq[Double]]("vector").toArray.sameElements(model.vector(id))
    }

  private def randomLive(): Long = {
    val ids = model.liveIds
    ids(queryRng.nextInt(ids.size))
  }

  private def page(kind: String, n: Int): Unit = {
    val qs = Array.fill(n) { nextQueryId += 1; (nextQueryId, query()) }
    val frame = spark.createDataFrame(
      java.util.Arrays.asList(qs.map { case (id, v) => Row(id, v.toSeq) }: _*), querySchema)
    readOp(kind, n)(store.searchJoin(frame, topK = TopK, nprobe = NProbe)) { rows =>
      val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
      checkAll(qs.map { case (id, q) =>
        q -> byQuery.getOrElse(id, Array.empty[Row]).sortBy(_.getAs[Number]("rank").longValue)
          .map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toSeq
      }) && byQuery.keySet == qs.map(_._1).toSet
    }
  }

  /** Rows the store holds for `ids`: (id, vector, shard). */
  private def readBack(ids: Seq[Long]): Array[(Long, Array[Double], Int)] =
    spark.read.parquet(s"$storeDir/vectors").filter(col("id").isin(ids: _*))
      .select("id", "vector", "shard").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))

  private def storeCount(): Long = spark.read.parquet(s"$storeDir/vectors").count()

  /** Half the batch are new ids, half replace live ids with vectors
    * drawn afresh, so some move to another shard.
    */
  private def upsert(): Unit = {
    val fresh = cfg.upsertBatch / 2
    val replaced = scala.util.Random.javaRandomToRandom(writeRng)
      .shuffle(model.liveIds.toSeq).take(cfg.upsertBatch - fresh)
    val batch = (replaced ++ Seq.fill(fresh) { nextVectorId += 1; nextVectorId })
      .map(id => id -> mix.draw(writeRng))
    val frame = spark.createDataFrame(
      java.util.Arrays.asList(batch.map { case (id, v) => Row(id, v.toSeq) }: _*), vecSchema)
    writeOp("upsert")(store.upsert(frame)) {
      val back = readBack(batch.map(_._1))
      val want = batch.toMap
      val ok = back.length == batch.size && back.map(_._1).toSet == want.keySet &&
        back.forall { case (id, v, _) => v.sameElements(want(id)) }
      back.foreach { case (id, v, s) => model.put(id, v, s) }
      lastUpserted.clear(); lastUpserted ++= batch.map(_._1)
      ok
    }
  }

  private def delete(): Unit = {
    val ids = scala.util.Random.javaRandomToRandom(writeRng)
      .shuffle(model.liveIds.toSeq.filterNot(lastUpserted.toSet)).take(cfg.deleteBatch)
    writeOp("delete")(store.delete(ids)) {
      ids.foreach(model.remove)
      readBack(ids).isEmpty && storeCount() == model.size
    }
  }

  private def upserted(): Long = lastUpserted(queryRng.nextInt(lastUpserted.size))

  /** The workload's cycle: the fixed sequence of operations a run
    * repeats. `get` runs twice per read pass because single gets vary
    * most (by up to 40% on ingest, depending on how recent the upsert).
    */
  private val cycleOps: Seq[String] = {
    val reads = Seq("search", "get", "exact", "page8", "search", "get", "page256")
    cfg.workload match {
      case "serve" => reads
      case "ingest" => ("upsert" +: reads) ++ ("delete" +: reads)
    }
  }

  /** Untimed operations before the measurement, so that JIT and codegen
    * settle: each read kind runs twice.
    */
  private val warmUp: Seq[String] = cfg.workload match {
    case "serve" => cycleOps ++ cycleOps
    case "ingest" => cycleOps
  }

  private def runOp(kind: String): Unit = kind match {
    case "search" => search()
    // on ingest, get reads back an id of the last upsert
    case "get" => get(if (cfg.workload == "ingest") upserted() else randomLive())
    case "exact" => exact()
    case "page8" => page("page8", 8)
    case "page256" => page("page256", 256)
    case "upsert" => upsert()
    case "delete" => delete()
  }

  // ---- the run ------------------------------------------------------

  def run(): String = {
    val setupTimes = setup()
    Client.progress("set-up done")
    warmUp.foreach(runOp)
    Client.progress("warm-up done")
    measuring = true
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var withListener = 0
    var without = 0
    def enough = if (cfg.trace) withListener >= 1 && without >= 1 else without >= 2
    // whole cycles run while the next one is expected to end inside the
    // window, so every run measures the same mix of operations
    var last = 0.0
    while (elapsed + last <= cfg.seconds || !enough) {
      val start = elapsed
      cycle += 1
      // a traced run alternates cycles with and without the listener,
      // so the same run also measures what tracing costs
      val on = cfg.trace && cycle % 2 == 0
      tracer.setCounting(on)
      cycleOps.foreach(runOp)
      if (on) withListener += 1 else without += 1
      last = elapsed - start
    }
    tracer.setCounting(false)
    measuring = false
    Client.progress(f"measured ${cycle + 1} cycles in $elapsed%.1f s")
    val all = ops.toSeq
    val metrics =
      if (cfg.trace) Metrics.perLayer(all, tracer, pinnedMb, cfg.upsertBatch * cfg.dim * 8L)
      else Metrics.endToEnd(all, Metrics.median(setupTimes), recalls.toSeq)
    Report.writeDetail(cfg.detail, cfg, all, tracer, setupTimes, metrics)
    Report.line(failed == 0, attempted, failed, metrics)
  }

  private def deleteDir(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
  }
}

object Client {
  /** A progress line on stderr, stamped with the JVM's uptime. */
  def progress(what: String): Unit = System.err.println(
    f"perfbench: $what at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  /** Exchanges in an executed physical plan, subqueries and AQE query
    * stages included.
    */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case p => (p match { case _: Exchange => 1; case _ => 0 }) +
      (p.children ++ p.subqueries).map(exchanges).sum
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    require(Set("serve", "ingest")(cfg.workload), s"unknown workload ${cfg.workload}")
    val spark = graft.GraftSession.builder("perfbench")
      .master(s"local[${cfg.cores}]")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Client.progress("session started")
    val line = try new Client(spark, cfg).run() finally spark.stop()
    println(line)
  }
}
