package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes `<out>/run.json` (timings,
  * per-op records, per-layer numbers when traced) and, when traced,
  * `<out>/spans.jsonl`. Output correctness is checked by the caller
  * from the pass directories this leaves under `<out>`.
  *
  * Arguments (all `--key value`):
  *   workload  etl_wordstats | dedup_corpus | catalog_sf001 | ingest_tranches
  *   data      corpus root, or the fixture directory for the catalog
  *   out       run directory (created; must be empty)
  *   seconds   length of the measured window
  *   trace     1 = record spans and Spark task metrics per span
  *   queries   catalog only: comma-separated query names, in run order
  *   cores     local[N]
  *
  * Set-up starts a session and runs one warm pass, [[Setups]] times
  * over. A pass is one closed-loop run of the workload from input to
  * committed result; passes run back to back until the window ends. */
object Main {
  val Setups = 4

  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val cores = opt("cores").toInt
    val workload = Workload(opt("workload"), opt("data"),
      opt.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
    val tracer = new Tracer(opt("trace") == "1")
    val untraced = new Tracer(false)

    var spark: SparkSession = null
    val setup = (0 until Setups).map { k =>
      if (spark != null) spark.stop()
      val dir = s"$out/warm_$k"
      val (_, s) = Workload.timed {
        spark = session(cores, out)
        workload.prepare(spark, dir)
        workload.pass(spark, dir, untraced)
      }
      deleteTree(dir)
      s
    }
    tracer.attach(spark.sparkContext)
    // the stopped set-up sessions' garbage must not sit in the heap the
    // window measures
    System.gc()
    val heap = new HeapWatch

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passOps = mutable.ArrayBuffer.empty[Seq[Op]]
    val errors = mutable.ArrayBuffer.empty[String]
    val window0 = System.nanoTime
    while (passes.isEmpty || (System.nanoTime - window0) / 1e9 < seconds) {
      val dir = f"$out/pass_${passes.size}%03d"
      workload.prepare(spark, dir)
      val cpu0 = processCpuNs()
      heap.start()
      val ops = try tracer.span("pass")(workload.pass(spark, dir, tracer))
      catch { case e: Exception => errors += s"$dir: $e"; Nil }
      val cpuNs = processCpuNs() - cpu0
      val heapMb = heap.stop()
      if (ops.nonEmpty) passOps += ops
      passes += Map("dir" -> dir, "cpu_s" -> cpuNs / 1e9, "heap_after_gc_mb" -> heapMb,
        "ok" -> ops.nonEmpty, "seconds" -> ops.map(_.seconds).sum,
        "ops" -> ops.map(o => o.fields ++ Map("name" -> o.name, "seconds" -> o.seconds)))
    }

    if (passes.forall(_("heap_after_gc_mb") == Nil)) {
      // no collection ran in the window: read the heap after one
      heap.start()
      System.gc()
      Thread.sleep(200) // the notification arrives on another thread
      passes(0) = passes(0) + ("heap_after_gc_mb" -> heap.stop())
    }

    val record = mutable.Map[String, Any](
      "setup_s" -> setup, "passes" -> passes.toSeq, "errors" -> errors.toSeq, "cores" -> cores)
    if (tracer.enabled) {
      val lastDir = passes.last("dir").toString
      val probed = workload.probe(spark, lastDir, tracer)
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      record("layers") = Layers(tracer, passOps.size, cores) ++
        workload.opLayers(passOps.toSeq) ++ probed
      writeSpans(tracer, s"$out/spans.jsonl")
    }
    spark.stop()
    Files.writeString(Paths.get(s"$out/run.json"), json.writeValueAsString(record.toMap))
  }

  /** The one local session every pass runs in. All scratch space stays
    * under the run directory. */
  def session(cores: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process, all threads (dead ones too) but the
    * JIT compiler's: warm-up compilation is not work a pass did, while
    * GC is. The compiler threads' share is read from /proc in clock
    * ticks (USER_HZ, 100 on Linux); run.py keeps their number fixed so
    * none exits and takes its share out of the subtraction. */
  private def processCpuNs(): Long = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    val jit = try tasks.iterator.asScala.map { t =>
      // a thread that ends while it is listed leaves no files to read;
      // it was no compiler thread, as those never end here
      try {
        val name = Files.readString(t.resolve("comm"))
        if (!name.startsWith("C1 Compiler") && !name.startsWith("C2 Compiler")) 0L
        else {
          val stat = Files.readString(t.resolve("stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong // utime + stime
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum finally tasks.close()
    os.getProcessCpuTime - jit * 10000000L
  }

  private def writeSpans(tr: Tracer, path: String): Unit = {
    val engine = tr.inclusiveTotals
    val lines = tr.all.map { s =>
      json.writeValueAsString(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end,
        "spark" -> engine.get(s.id).map(_.toMap)))
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }
}

/** The heap the collector could not reclaim: while started, the used
  * bytes of the heap pools right after each garbage collection, in MB.
  * This is the workload's live heap (Spark's own included) plus the
  * garbage the collector has not reached yet; unlike the process's
  * resident size it does not fill up to the heap's maximum. */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var afterGc = mutable.ArrayBuffer.empty[Double]
  private var armed = false
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  def start(): Unit = synchronized { afterGc = mutable.ArrayBuffer.empty; armed = true }
  def stop(): Seq[Double] = synchronized { armed = false; afterGc.toSeq }

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (armed) afterGc += used / 1e6 }
    }
}

/** Per-layer numbers of a traced run, per measured pass. */
object Layers {
  def apply(tr: Tracer, passes: Int, cores: Int): Map[String, Double] = {
    val spans = tr.all
    val engine = tr.inclusiveTotals
    val n = math.max(passes, 1).toDouble
    def inPass(id: Int): Boolean =
      Iterator.iterate(id)(i => spans(i).parent).takeWhile(_ >= 0).exists(i => spans(i).name == "pass")
    val measured = spans.filter(s => inPass(s.id))
    def named(name: String) = measured.filter(_.name == name)
    def probed(name: String) = spans.filter(s => s.name == name && !inPass(s.id))
    // a layer the passes run is reported per pass; one only a probe
    // runs is reported as the probe's total (probes run once)
    def layer(name: String) = if (named(name).nonEmpty) (named(name), n) else (probed(name), 1.0)
    def seconds(name: String) = { val (ss, k) = layer(name); ss.map(_.seconds).sum / k }
    def jobs(name: String) = {
      val (ss, k) = layer(name)
      ss.flatMap(s => engine.get(s.id)).map(_.jobs).sum / k
    }

    val passTotals = new EngineTotals
    named("pass").flatMap(s => engine.get(s.id)).foreach(passTotals.add)
    val passWall = named("pass").map(_.seconds).sum
    val queries = named("catalog.build").size
    val catalogJobs = spans.filter(s => inPass(s.id) && s.name.startsWith("catalog.query."))
      .flatMap(s => engine.get(s.id)).map(_.jobs).sum.toDouble

    val engineMetrics = passTotals.toMap.map { case (k, v) =>
      val x = v.toString.toDouble
      s"spark.$k" -> (if (k == "peak_exec_mem_mb") x else x / n)
    }
    engineMetrics ++ Map(
      "spark.core_busy_frac" -> (if (passWall > 0) passTotals.taskMs / 1e3 / (passWall * cores) else 0.0),
      "sources.list_s" -> seconds("sources.list"),
      "sources.scan_s" -> seconds("sources.scan"),
      "operators.wordstats.s" -> seconds("operators.wordstats"),
      "operators.neardup.shingle_s" -> seconds("operators.neardup.shingle"),
      "operators.neardup.signature_s" -> seconds("operators.neardup.signature"),
      "operators.neardup.confirm_s" -> seconds("operators.neardup.confirm"),
      "operators.clusters.s" -> seconds("operators.clusters"),
      "operators.clusters.jobs" -> jobs("operators.clusters"),
      "core.pipeline.plan_s" -> seconds("core.pipeline.plan"),
      "core.pipeline.run_s" -> seconds("core.pipeline.run"),
      "sinks.csv.write_s" -> seconds("sinks.csv"),
      "sinks.parquet.write_s" -> seconds("sinks.parquet"),
      "catalog.build_s" -> seconds("catalog.build"),
      "catalog.exec_s" -> seconds("catalog.exec"),
      "catalog.build_jobs" -> jobs("catalog.build"),
      "catalog.jobs_per_query" -> (if (queries > 0) catalogJobs / queries else 0.0))
  }
}
