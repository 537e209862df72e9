package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkEntry
import graft.serving.Api

/** One timed operation: a query execution or an HTTP request. */
final case class OpRec(name: String, op: String, startUs: Long,
    endUs: Long, buildS: Double, execS: Double, ok: Boolean, cpuS: Double,
    bytes: Long = 0, builds: Int = 0, written: Usage = Usage.zero,
    artifactBytes: Long = 0) {
  def wallS: Double = (endUs - startUs) / 1e6
}

/** A result written to `<work>/out/<query>` for check.py: `sql` is the
  * oracle, or None for the approximate queries, which only need rows > 0.
  */
final case class Check(query: String, dir: String, sql: Option[String])

/** State shared by the workloads of one run. `data` is the run's own copy
  * of the fixtures: its path is new, so every artifact fingerprint misses
  * and the artifacts a run reads are built by the code under test.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val data: String,
    val work: Path) {
  val rng = new scala.util.Random(seed)
  val checks = ArrayBuffer.empty[Check]
  val failures = ArrayBuffer.empty[String]
  var checkAttempts, checkFailures = 0L
  /** Per-op disk listings; set for the traced pass only. */
  var watch = false
  val tmp: Path = Paths.get(System.getProperty("java.io.tmpdir"))
  private val sc = spark.sparkContext
  private lazy val oracle = SparkEntry.oracleSql
  /** The DataFrame each query's latest timed execution built. */
  private val lastDf = scala.collection.mutable.Map.empty[String, DataFrame]

  private def mark(op: String, phase: String): Unit = {
    sc.setLocalProperty(Trace.OpKey, op)
    sc.setLocalProperty(Trace.PhaseKey, phase)
  }

  /** Tag every job this thread (and threads it starts) submits. */
  def attribute(op: String, desc: String): Unit = {
    sc.setJobGroup(op, desc)
    mark(op, "exec")
  }
  def detach(): Unit = { sc.clearJobGroup(); mark(null, null) }

  /** Times `f` as one operation; with `watch`, also lists what it wrote. */
  def timed(name: String)(f: (String => Unit) => Unit): OpRec = {
    val op = Trace.nextId().toString
    sc.setJobGroup(op, name)
    val cacheBefore = if (watch) Disk.cacheEntries() else Set.empty[Path]
    val tmpBefore = if (watch) Disk.files(tmp) else Map.empty[Path, Long]
    var phaseStart = Trace.nowUs()
    var phase = "build"
    var buildS = 0.0
    val cpu0 = Cpu.processS()
    val start = phaseStart
    mark(op, phase)
    def next(p: String): Unit = {
      val now = Trace.nowUs()
      if (Trace.on)
        Trace.spans.add(Span(Trace.nextId(), op.toLong, phase, op,
          phaseStart, now))
      if (phase == "build") buildS = (now - phaseStart) / 1e6
      phase = p; phaseStart = now; mark(op, p)
    }
    val ok =
      try { f(next); true }
      catch { case t: Throwable => failures += s"$name: $t"; false }
    next("done")
    val end = phaseStart
    detach()
    if (Trace.on)
      Trace.spans.add(Span(op.toLong, 0, s"op:$name", op, start, end))
    val rec = OpRec(name, op, start, end, buildS,
      (end - start) / 1e6 - buildS, ok, Cpu.processS() - cpu0)
    if (!watch) rec
    else {
      val newEntries = Disk.cacheEntries() -- cacheBefore
      val cacheUse = Disk.usageOf(newEntries)
      rec.copy(builds = newEntries.size, artifactBytes = cacheUse.bytes,
        written = cacheUse + Disk.usage(Disk.newFiles(tmp, tmpBefore)))
    }
  }

  /** A declared query: construction, then the noop write `graft.Bench`
    * times.
    */
  def query(name: String, dir: String): OpRec = timed(name) { next =>
    val df = SparkEntry.queries(name)(spark, dir)
    lastDf(name) = df
    next("exec")
    df.write.format("noop").mode("overwrite").save()
  }

  /** Untimed: write the result of the query's latest timed execution
    * again (its construction, and any lifecycle in it, is not rerun).
    */
  def recheck(name: String): Unit = {
    val out = work.resolve("out").resolve(name).toString
    try {
      lastDf(name).coalesce(1).write.mode("overwrite").parquet(out)
      checks += Check(name, out, oracle.get(name))
    } catch {
      case t: Throwable =>
        checkAttempts += 1; checkFailures += 1
        failures += s"check $name: $t"
    }
  }

  /** Cache entries that `f` created: artifact builds. */
  def builds(f: => Seq[OpRec]): (Seq[OpRec], Int) = {
    val before = Disk.cacheEntries()
    val ops = f
    (ops, (Disk.cacheEntries() -- before).size)
  }

  /** Bench's untimed engine warm-up: planner, codegen, shuffle. */
  def warmEngine(): Unit =
    spark.range(1000).groupBy((col("id") % 10).as("k")).count()
      .write.format("noop").mode("overwrite").save()
}

object Cpu {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds used by this JVM so far: Spark's tasks run in it too. */
  def processS(): Double = os.getProcessCpuTime / 1e9
}

trait Workload {
  def name: String
  /** Untimed: warm-up, artifact builds, server start. */
  def setup(): Unit
  /** How many whole units (passes, cycles, rounds) fill `seconds`. The
    * count depends only on `seconds`, never on how fast a run goes, so
    * every run and every commit times the same work.
    */
  def units(seconds: Double): Int
  /** Unit `i` of the timed closed loop. */
  def unit(i: Int): Seq[OpRec]
  /** Untimed correctness work after the timed passes. */
  def check(): Unit
  def close(): Unit = ()
  /** The wall time the operations of `ops` kept the system busy. */
  def activeS(ops: Seq[OpRec]): Double = ops.map(_.wallS).sum
  /** Bytes left on disk per byte of source parquet (lakehouse only). */
  def storedRatio: Option[Double] = None
  /** Artifact builds seen by the timed units. */
  var timedBuilds = 0
  def warm: Boolean = true
}

/** batch_mix: one query from each name-family stratum at sf0.1, warm
  * cache, one caller. The set is fixed so that every seed asks for the
  * same work; the seed orders each pass. Each query is a mid-cost member
  * of its stratum (r14 `graft.Bench` times at 8 cores).
  */
object BatchMix {
  val Sample: Seq[String] = Seq(
    "agg_minmax_by",             // agg, fn, set, sql
    "tpch_q12",                  // join, tpch
    "events_state_dwell",        // events, win, orders (telemetry)
    "stream_quantile",           // stream: an AvailableNow replay
    "text_rarity",               // text, dedup, knn, vec
    "source_manifest_pruned_ts", // lakehouse read
    "scan_agg_pushdown"          // builds a newSession() child
  )
}

final class BatchMix(ctx: Ctx) extends Workload {
  val name = "batch_mix"
  val sample: Seq[String] = BatchMix.Sample

  /** An untimed pass builds the artifacts and warms the JIT. */
  def setup(): Unit = {
    ctx.warmEngine()
    sample.foreach { q =>
      ctx.checkAttempts += 1
      if (!ctx.query(q, ctx.data).ok) ctx.checkFailures += 1
    }
  }

  /** A pass takes about 5 s on 4 cores. */
  def units(seconds: Double): Int = math.max(1, math.round(seconds / 4).toInt)

  /** A whole pass in a new seeded order. */
  def unit(i: Int): Seq[OpRec] = {
    val (ops, n) =
      ctx.builds(ctx.rng.shuffle(sample).map(ctx.query(_, ctx.data)))
    timedBuilds += n
    ops
  }

  /** The latest timed execution of every query is checked. */
  def check(): Unit = sample.foreach(ctx.recheck)
}

/** serve_api: `graft.serving.Api` in process, driven by two client
  * connections in a closed loop. Requests come in whole cycles of fixed
  * composition. The seed draws one order per cycle, which both clients
  * follow, so that the requests that queue behind each other are of the
  * same kind from seed to seed; each client draws its own parameters
  * (Zipf-skewed vehicles, one-day trace windows, vector ids, key ranges
  * of 1,000 keys).
  */
final class ServeApi(ctx: Ctx) extends Workload {
  val name = "serve_api"
  private val Vehicles = 1500
  private val T0Us = 1704067200000000L // 2024-01-01, start of the events
  private val DayUs = 86400L * 1000000
  /** (kind, requests per cycle). */
  private val Cycle = Seq("trace" -> 3, "summary" -> 1, "trips" -> 1,
    "resample" -> 1, "changepoint" -> 1, "similar" -> 1, "orders" -> 1,
    "fleet" -> 1)
  /** Cycle i of client c asks for fleet report (c + i) mod 2. */
  private val Fleet = Seq("/stats/heatmap", "/stats/movers")
  // Zipf(1.1) over a seeded permutation of the vehicle ids
  private val vehicleOf = ctx.rng.shuffle((0 until Vehicles).toVector)
  private val zipfCdf = {
    val w = (1 to Vehicles).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def vehicle(r: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    vehicleOf(math.min(Vehicles - 1, if (i >= 0) i else -i - 1))
  }

  final case class Req(kind: String, path: String, vehicle: Int = -1,
      from: Long = 0, to: Long = 0, vec: Int = -1)
  final case class Resp(req: Req, status: Int, body: String)

  private def draw(kind: String, r: scala.util.Random): Req = kind match {
    case "trace" =>
      val v = vehicle(r)
      val from = T0Us + (r.nextDouble() * 28 * DayUs).toLong
      val to = from + DayUs
      Req(kind, s"/vehicles/$v/trace?from_us=$from&to_us=$to", v, from, to)
    case "summary" | "trips" | "resample" | "changepoint" =>
      val v = vehicle(r)
      Req(kind, s"/vehicles/$v/$kind", v)
    case "similar" =>
      val id = r.nextInt(2000)
      Req(kind, s"/search/similar?vec_id=$id&k=5", vec = id)
    case "orders" =>
      val lo = r.nextInt(145000)
      Req(kind, s"/table/orders?from_key=$lo&to_key=${lo + 1000}")
  }

  private def cycle(order: Seq[String], r: scala.util.Random,
      fleet: Int): Seq[Req] = order.map {
    case "fleet" => Req("fleet", Fleet(fleet % Fleet.size))
    case k => draw(k, r)
  }

  private var server: com.sun.net.httpserver.HttpServer = _
  private var base = ""
  private val responses = ArrayBuffer.empty[Resp]

  private def send(client: HttpClient, req: Req): (Int, String) = {
    val rq = HttpRequest.newBuilder(URI.create(base + req.path)).GET().build()
    val rs = client.send(rq, HttpResponse.BodyHandlers.ofString())
    (rs.statusCode, rs.body)
  }

  private def newClient() = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  /** The two client connections of the timed loop. */
  private lazy val conns = Seq.fill(2)(newClient())

  def setup(): Unit = {
    ctx.warmEngine()
    // the server's dispatcher thread inherits the attribution
    ctx.attribute("serve", "serve_api")
    server = Api.start(ctx.spark, ctx.data, 0)
    ctx.detach()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val c = newClient()
    val r = new scala.util.Random(ctx.seed ^ 0x5eedL)
    Cycle.collect { case (k, _) if k != "fleet" => send(c, draw(k, r)) }
    Fleet.foreach(f => send(c, Req("fleet", f)))
  }

  /** A unit (a cycle per client) takes about 7 s on 4 cores. */
  def units(seconds: Double): Int = math.max(1, math.round(seconds / 6).toInt)

  /** Each client sends one whole cycle. */
  def unit(i: Int): Seq[OpRec] = {
    val clients = conns.size
    val ops = java.util.Collections.synchronizedList(
      new java.util.ArrayList[OpRec]())
    val order = ctx.rng.shuffle(Cycle.flatMap { case (k, n) => Seq.fill(n)(k) })
    val seeds = Seq.fill(clients)(ctx.rng.nextLong())
    val cpu0 = Cpu.processS()
    val threads = seeds.zipWithIndex.map { case (s, ci) =>
      new Thread(() => {
        val r = new scala.util.Random(s)
        val c = conns(ci)
        for (q <- cycle(order, r, i + ci)) {
          val a = Trace.nowUs()
          val (code, body) =
            try send(c, q) catch { case e: Throwable => (-1, e.toString) }
          val b = Trace.nowUs()
          ops.add(OpRec(q.kind, "serve", a, b, 0, (b - a) / 1e6, code == 200,
            0, bytes = body.length))
          if (Trace.on)
            Trace.spans.add(Span(Trace.nextId(), 0, s"req:${q.kind}",
              "serve", a, b))
          responses.synchronized { responses += Resp(q, code, body) }
        }
      })
    }
    timedBuilds += ctx.builds {
      threads.foreach(_.start()); threads.foreach(_.join()); Nil
    }._2
    import scala.jdk.CollectionConverters._
    // requests overlap, so the process CPU of the unit is shared evenly
    val perReq = (Cpu.processS() - cpu0) / math.max(1, ops.size)
    ops.asScala.toSeq.map(_.copy(cpuS = perReq))
  }

  override def activeS(ops: Seq[OpRec]): Double =
    if (ops.isEmpty) 0.0 else (ops.map(_.endUs).max - ops.map(_.startUs).min) / 1e6

  /** Every response must be HTTP 200 and JSON; a seeded sample of them
    * is recomputed directly through the library and must agree on `n`.
    */
  def check(): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val all = responses.toSeq
    all.foreach { rs =>
      ctx.checkAttempts += 1
      val ok = rs.status == 200 &&
        scala.util.Try(mapper.readTree(rs.body)).isSuccess
      if (!ok) {
        ctx.checkFailures += 1
        ctx.failures += s"${rs.req.path}: HTTP ${rs.status} ${rs.body.take(200)}"
      }
    }
    val spark = ctx.spark
    val recheck = ctx.rng.shuffle(all.filter(r =>
      r.status == 200 && !Set("orders", "fleet")(r.req.kind)))
      .take(8)
    recheck.foreach { rs =>
      ctx.checkAttempts += 1
      val q = rs.req
      val direct = scala.util.Try {
        val df = q.kind match {
          case "trace" => Api.trace(spark, ctx.data, q.vehicle,
            Some(q.from), Some(q.to))
          case "similar" =>
            val emb = graft.Tables.table(spark, ctx.data, "embeddings")
            graft.operators.Knn.search(emb.filter(col("vec_id") === q.vec),
              emb, 5)
          case k =>
            val decl = Map("summary" -> "events_user_summary",
              "trips" -> "events_trip_stats",
              "resample" -> "events_resample_lerp",
              "changepoint" -> "events_changepoint")(k)
            SparkEntry.queries(decl)(spark, ctx.data)
              .filter(col("user_id") === q.vehicle)
        }
        math.min(df.count(), 10000L)
      }
      val served = scala.util.Try(mapper.readTree(rs.body).get("n").asLong)
      if (direct.isFailure || served.isFailure || direct.get != served.get) {
        ctx.checkFailures += 1
        ctx.failures += s"recompute ${q.path}: served=$served direct=$direct"
      }
    }
  }

  override def close(): Unit = if (server != null) server.stop(0)
}

/** lakehouse_cold: lakehouse queries against a fresh copy of the
  * fixtures per round. The copy has new mtimes, so every artifact
  * fingerprint misses and the lifecycles (CREATE, INSERT, MERGE, UPDATE,
  * DELETE, OPTIMIZE) run inside the timed calls. The round's
  * cache entries and the copy are deleted afterwards. One query per
  * lifecycle stratum, in a fixed order: later queries can reuse entries
  * earlier ones built, so the order is part of the workload.
  */
object LakehouseCold {
  val Subset: Seq[String] = Seq(
    "manifest_sql_merge_nmbs",  // SQL MERGE: update matched, delete the rest
    "manifest_optimize_layout", // fragment, then compact (OPTIMIZE)
    "sink_manifest_sorted",     // DataFrame writer sink
    "ivm_manifest_delta"        // incremental view maintenance
  )
}

final class LakehouseCold(ctx: Ctx) extends Workload {
  val name = "lakehouse_cold"
  override def warm = false
  val subset: Seq[String] = LakehouseCold.Subset
  private var copies = 0
  private var stored = 0L
  private var source = 0L
  private var checked = false

  /** The subset on a fresh copy of the fixtures; afterwards the copy and
    * every cache entry the round created are deleted. Returns the
    * operations and the round's cache entries, bytes left on disk and
    * source bytes.
    */
  private def round(): (Seq[OpRec], Int, Long, Long) = {
    copies += 1
    val dir = ctx.work.resolve("fixtures").resolve(s"c$copies")
    Disk.copyTree(Paths.get(ctx.data), dir)
    val cacheBefore = Disk.cacheEntries()
    val tmpBefore = Disk.files(ctx.tmp)
    try {
      val ops = subset.map(q => ctx.query(q, dir.toString))
      if (!checked) {
        // correctness of what this round built, before it is deleted
        checked = true
        subset.foreach(ctx.recheck)
      }
      val created = Disk.cacheEntries() -- cacheBefore
      (ops, created.size, Disk.usageOf(created).bytes +
        Disk.newFiles(ctx.tmp, tmpBefore).values.sum, Disk.sizeOf(dir))
    } finally {
      (Disk.cacheEntries() -- cacheBefore).foreach(Disk.delete)
      Disk.delete(dir)
    }
  }

  def setup(): Unit = ctx.warmEngine()

  /** The first round takes about 17 s on 4 cores, later ones 10 s. */
  def units(seconds: Double): Int = math.max(1, math.round(seconds / 17).toInt)

  /** One round. */
  def unit(i: Int): Seq[OpRec] = {
    val (ops, builds, bytes, src) = round()
    timedBuilds += builds; stored += bytes; source += src
    ops
  }

  def check(): Unit = ()
  override def storedRatio: Option[Double] =
    if (source == 0) None else Some(stored.toDouble / source)
}
