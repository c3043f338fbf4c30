package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run inside a fresh JVM. `run.py` writes the plan (a
  * JSON file: workload queries, sweep orders, directories) and turns
  * the raw record this writes into metrics; nothing here is a metric.
  *
  * The engine is driven only through its public entry points: the
  * query builders of `graft.SparkEntry.queries`, the noop-sink save
  * that executes them, and the shared silver-table builds. */
object Main {
  type Builder = (SparkSession, String) => DataFrame

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Plan(raw: Map[String, Any]) {
    def str(k: String): String = raw(k).toString
    def int(k: String): Int = raw(k).toString.toInt
    def strs(k: String): Seq[String] = raw(k).asInstanceOf[Seq[Any]].map(_.toString)
    def sweeps: Seq[Seq[String]] =
      raw("sweeps").asInstanceOf[Seq[Seq[Any]]].map(_.map(_.toString))
    def traced: Boolean = int("trace") == 1
    def check: Boolean = raw("check") == true
  }

  def main(args: Array[String]): Unit = runPlan(args(0), graft.SparkEntry.queries)

  /** Run the plan at `planPath` over `queries` and write its record. */
  def runPlan(planPath: String, queries: Map[String, Builder]): Unit = {
    val plan = Plan(mapper.readValue(new java.io.File(planPath), classOf[Map[String, Any]]))
    mapper.writeValue(new java.io.File(plan.str("out")), run(plan, queries))
  }

  /** Shared silver builds by name, with the fixed concurrency the
    * benchmark pins (the engine's default, and no host-load probe). */
  val sharedBuilds: Map[String, (SparkSession, String) => Unit] = Map(
    "pairs" -> ((s, d) => graft.queries.TextPack.prepareShared(s, d, concurrency = 4)),
    "adc" -> ((s, d) => graft.queries.SimilarityPack.prepareSharedAdc(s, d)))

  def session(plan: Plan): SparkSession = {
    val n = plan.int("cores")
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.graft.stream.checkpointDir", plan.str("checkpoint_dir"))
      .config("spark.sql.warehouse.dir", plan.str("warehouse_dir"))
      .config("spark.local.dir", plan.str("local_dir"))
    (if (plan.traced)
      b.config("spark.extraListeners", classOf[SchedulerTrace].getName)
        .config("spark.sql.queryExecutionListeners", classOf[PlanTrace].getName)
        .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTrace].getName)
    else b).getOrCreate()
  }

  def run(plan: Plan, queries: Map[String, Builder]): Map[String, Any] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val heap = HeapWatch.start()
    val spark = session(plan)
    try runIn(spark, plan, queries, jvmStartMs) + ("peak_heap_b" -> heap.peak)
    finally spark.stop()
  }

  def runIn(spark: SparkSession, plan: Plan, queries: Map[String, Builder],
            jvmStartMs: Long): Map[String, Any] = {
    val sc = spark.sparkContext
    val data = plan.str("data_dir")
    val epoch0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    // spans: id, parent id (-1 for a root), name, start and end in
    // epoch ms; a root also names its group (the sweep index, or
    // "setup"). Kept in memory and written out with the run record.
    val spans = ArrayBuffer[Map[String, Any]]()
    def span(parent: Int, name: String, start: Double, end: Double,
             group: Any = null): Int = {
      val id = spans.size
      spans += Map("id" -> id, "parent" -> parent, "name" -> name,
        "start" -> start, "end" -> end, "group" -> group)
      id
    }

    /** Run `body` in a counter window when `on`, then drain the
      * listener bus (outside the caller's timed interval) so every
      * event of `body` has landed in the window before it closes. A
      * drain that times out marks the window incomplete. */
    def traced[T](on: Boolean)(body: => T): (T, Option[Window], Boolean) = {
      if (!on) return (body, None, false)
      val w = Trace.open()
      val r = try body finally sc.setLocalProperty(Trace.PhaseKey, null)
      val complete =
        try { org.apache.spark.graftshim.ListenerDrain.drain(sc); true }
        catch { case _: java.util.concurrent.TimeoutException => false }
      Trace.close()
      (r, Some(w), complete)
    }

    def errText(e: Throwable): String =
      s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"

    def build(name: String): DataFrame =
      queries.getOrElse(name, throw new NoSuchElementException(s"no query named $name"))(
        spark, data)

    // shared silver builds: part of set-up, each timed on its own
    val builds = plan.strs("shared").map { name =>
      val s0 = nowMs
      val t0 = System.nanoTime()
      val ((err, t1), win, complete) = traced(plan.traced) {
        if (plan.traced) sc.setLocalProperty(Trace.PhaseKey, "silver")
        val e =
          try { sharedBuilds(name)(spark, data); None }
          catch { case e: Throwable => Some(errText(e)) }
        val t = System.nanoTime()
        spark.catalog.clearCache()
        (e, t)
      }
      val id = span(-1, s"silver.$name", s0, s0 + (t1 - t0) / 1e6, "setup")
      win.foreach(_.jobSpans.foreach { case (_, a, b) => span(id, "job", a, b) })
      Map("name" -> name, "ok" -> err.isEmpty, "error" -> err.orNull,
        "wall_s" -> (t1 - t0) / 1e9, "complete" -> complete,
        "window" -> win.map(_.toMap).orNull)
    }

    def runQuery(name: String, on: Boolean, sweep: Int): Map[String, Any] = {
      val s0 = nowMs
      val t0 = System.nanoTime()
      var tb, te = 0L
      val ((err, t1), win, complete) = traced(on) {
        if (on) sc.setLocalProperty(Trace.PhaseKey, "builder")
        val e =
          try {
            val df = build(name)
            tb = System.nanoTime()
            if (on) sc.setLocalProperty(Trace.PhaseKey, "execute")
            df.write.mode("overwrite").format("noop").save()
            te = System.nanoTime()
            None
          } catch { case e: Throwable => Some(errText(e)) }
        if (on) sc.setLocalProperty(Trace.PhaseKey, "other")
        spark.catalog.clearCache()
        (e, System.nanoTime())
      }
      def at(t: Long) = s0 + (t - t0) / 1e6
      if (on) {
        val q = span(-1, "query", s0, at(t1), sweep)
        val b = if (tb > 0) span(q, "builder", s0, at(tb)) else -1
        val x = if (te > 0) span(q, "execute", at(tb), at(te)) else -1
        win.foreach(_.jobSpans.foreach { case (phase, a, e) =>
          val parent = phase match {
            case "builder" if b >= 0 => b
            case "execute" if x >= 0 => x
            case _ => q
          }
          span(parent, "job", a, e)
        })
      }
      Map("name" -> name, "ok" -> err.isEmpty, "error" -> err.orNull,
        "wall_s" -> (t1 - t0) / 1e9,
        "builder_s" -> (if (tb > 0) (tb - t0) / 1e9 else null),
        "exec_s" -> (if (te > 0) (te - tb) / 1e9 else null),
        "complete" -> complete,
        "window" -> win.map(_.toMap).orNull)
    }

    // a sweep's wall time is the sum of its queries': the listener
    // drains a traced sweep runs between queries stay outside it, so
    // traced and untraced runs time the same intervals
    def runSweep(index: Int, order: Seq[String]): Map[String, Any] = {
      val qs = order.map(runQuery(_, plan.traced, index))
      Map("index" -> index,
        "wall_s" -> qs.map(_("wall_s").asInstanceOf[Double]).sum, "queries" -> qs)
    }

    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val orders = plan.sweeps
    val sweeps = ArrayBuffer(runSweep(0, orders.head))
    // warm sweeps until the run's measuring time is spent and the
    // plan's minimum count is reached
    val warmT0 = System.nanoTime()
    val minWarm = plan.int("min_warm")
    val seconds = plan.int("seconds")
    var k = 1
    while (k < orders.size &&
      (k <= minWarm || (System.nanoTime() - warmT0) / 1e9 < seconds)) {
      sweeps += runSweep(k, orders(k))
      k += 1
    }

    // untimed output check: one fingerprint per workload query
    val checkT0 = System.nanoTime()
    val check = (if (plan.check) plan.strs("queries").sorted else Nil).map { name =>
      val r =
        try {
          val (rows, hash) = fingerprint(build(name))
          Map("ok" -> true, "rows" -> rows, "hash" -> hash)
        } catch { case e: Throwable => Map("ok" -> false, "error" -> errText(e)) }
      spark.catalog.clearCache()
      r + ("name" -> name)
    }

    Map("jvm_start_ms" -> jvmStartMs, "setup_s" -> setupS,
      "builds" -> builds, "sweeps" -> sweeps.toSeq, "check" -> check,
      "check_s" -> (System.nanoTime() - checkT0) / 1e9,
      "spans" -> spans.toSeq, "peak_rss_kb" -> peakRssKb())
  }

  /** Row count plus an order-insensitive hash of the canonical rows:
    * the sum (exact, as a decimal) of each row's xxhash64 over its JSON
    * form, so duplicate rows count and row order does not. Columns are
    * renamed by position first so duplicate or dotted names are safe. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val names = df.columns.indices.map(i => s"c$i")
    val d = df.toDF(names: _*)
    val h = xxhash64(to_json(struct(names.map(col): _*))).cast("decimal(20,0)")
    val row = d.agg(count(lit(1)), sum(h)).head()
    (row.getLong(0), Option(row.getDecimal(1)).fold("0")(_.toPlainString))
  }

  /** Largest heap occupancy right after a garbage collection, in bytes:
    * the on-heap memory the run holds, which the RSS of a pre-touched
    * heap does not show. */
  final class HeapWatch extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private var max = 0L

    def peak: Long = synchronized(max)

    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        synchronized { max = math.max(max, used) }
      }
  }

  object HeapWatch {
    /** Watch every collector of this JVM from now on. */
    def start(): HeapWatch = {
      val w = new HeapWatch
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(w, null, null)
        case _ => ()
      }
      w
    }
  }

  /** Peak resident set of this JVM (VmHWM), in KiB. */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }
}
