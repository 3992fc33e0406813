package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.ops.HybridSort

final case class OpResult(name: String, family: String, group: String, rows: Long,
                          wall_s: Double, check_s: Double, ok: Boolean, reason: String)
final case class PassResult(kind: String, span: Int, wall_s: Double, cpu_s: Double,
                            compiles: Long, compile_ms: Double, ops: Seq[OpResult],
                            sort_plans: Seq[SortPlanStats])

/** The JVM half of `perfbench/run.py`: sets a session up, runs a workload's
  * passes and writes what it measured to `<out>/result.json` (and, with
  * `--trace 1`, the raw listener records to `<out>/trace.json`).
  *
  *   --workload sort_mix|query_mix
  *   --seed N --seconds S --trace 0|1 --out DIR --cpus N --launched-ms T
  *   --limits perfbench/limits.json [--sf DIR]
  */
object Main {
  val SetupReps = 3
  val ShapeRows = 50000L
  val ProbeRows = 50000
  val Threshold = 25

  def main(args: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val heap = new HeapMeter
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val out = a("out")
    val cpus = a("cpus").toInt
    val config = Json.read(a("limits"))
    val limits = config.get("limits_s").get(workload).properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap
    new File(out).mkdirs()
    val progress = new PrintWriter(new File(s"$out/progress.jsonl"))

    val spans = new Spans
    var spark: SparkSession = null
    var w: Workload = null
    val setupReps = (1 to SetupReps).map { _ =>
      if (spark != null) {
        w.release(); spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spans("setup", "setup") {
        spark = session(cpus, out)
        warm(spark, a.get("sf"))
        w = workload match {
          case "sort_mix" => new SortMix(spark, seed, spans, ShapeRows)
          case "query_mix" =>
            val families = config.get("query_mix_sample").get("families").properties().asScala
              .flatMap(e => e.getValue.asScala.map(_.asText -> e.getKey)).toMap
            new QueryMix(spark, seed, spans, a("sf"), s"$out/verify", families)
        }
        w.sealInputs()
      }
      (System.nanoTime() - t0) / 1e9
    }
    val cpu = new CpuMeter
    spark.sparkContext.addSparkListener(cpu)
    val runner = new Runner(w, spans, cpu, limits, progress)

    val passes = ArrayBuffer.empty[PassResult]
    if (w.coldOnly) passes += runner.pass("measure")
    else {
      passes += runner.pass("cold", w.warmOps)
      // a traced run's untraced passes only give trace.overhead_frac its base
      val n = if (trace) 1 else math.round(seconds / w.passSeconds).toInt.max(1)
      (1 to n).foreach(_ => passes += runner.pass("measure"))
    }

    var traceJson: Option[String] = None
    var probe: Seq[Map[String, Any]] = Nil
    if (trace) {
      // the traced pass is compared with an untraced pass in the same state
      if (w.coldOnly) passes += runner.pass("warm")
      val tracer = new Tracer
      tracer.attach(spark)
      w.planHook = tracer.addPlan
      passes += runner.pass("traced")
      w.planHook = (_, _) => ()
      tracer.detach(spark)
      traceJson = Some(tracer.toJson(spans.all))
      probe = kernelProbe(w.probeShapes, seed, ProbeRows)
    }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "jvm_s" -> (entryMs - a("launched-ms").toDouble) / 1000.0,
      "setup_reps_s" -> setupReps, "rows" -> w.rows,
      "passes" -> passes.toSeq, "peak_heap_mb" -> heap.peakMb, "peak_rss_mb" -> peakRssMb,
      "probe" -> probe)
    traceJson.foreach(j => Files.writeString(Paths.get(s"$out/trace.json"), j))
    Files.writeString(Paths.get(s"$out/result.json"), Json(result))
    progress.close()
    // Nothing is left to flush: halt rather than wait for Spark's shutdown
    // hooks (a hung task would hold them); run.py removes the scratch dirs.
    Runtime.getRuntime.halt(0)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.ops.Tables.NanosAsLongConf, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `graft.Bench`'s generic warm-up, plus its table reads when there is a
    * corpus.
    */
  def warm(spark: SparkSession, sf: Option[String]): Unit = {
    spark.range(1000000L).selectExpr("sum(id % 7)").collect()
    sf.foreach { dir =>
      Seq("lineitem", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$dir/$t.parquet").limit(100).collect()
      }
      graft.ops.Tables.events(spark, dir).limit(100).collect()
    }
  }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(-1.0)

  def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** The hybrid kernel called directly on plain arrays shaped like one
    * partition of the sort workloads: comparisons counted exactly through
    * `sortRangeO`, time per row through the Int kernel `sortRange`.
    */
  def kernelProbe(shapes: Seq[String], seed: Long, n: Int): Seq[Map[String, Any]] =
    shapes.map { shape =>
      val base = Array.tabulate(n)(i => Inputs.key(shape, i, n, seed))
      var compares = 0L
      val counting = new Ordering[Integer] {
        def compare(x: Integer, y: Integer): Int = { compares += 1; Integer.compare(x, y) }
      }
      val boxed = base.map(Integer.valueOf)
      HybridSort.sortRangeO(boxed, 0, n - 1, counting, Threshold)
      val times = ArrayBuffer.empty[Double]
      var sorted = true
      while (times.isEmpty || (times.size < 5 && times.sum < 0.3)) {
        val arr = base.clone()
        val t0 = System.nanoTime()
        HybridSort.sortRange(arr, 0, n - 1, Threshold)
        times += (System.nanoTime() - t0) / 1e9
        sorted &&= (1 until n).forall(i => arr(i - 1) <= arr(i)) &&
          (0 until n).forall(i => arr(i) == boxed(i).intValue)
      }
      Map("shape" -> shape, "rows" -> n, "compares" -> compares,
        "compares_per_row" -> compares.toDouble / n,
        "ns_per_row" -> times.sorted.apply(times.size / 2) * 1e9 / n, "sorted" -> sorted)
    }

}

/** The most heap that any garbage collection in the run left in use: what
  * the program's data needed at its peak, which the heap the collector
  * chose to commit (and so the resident set) follows only loosely.
  */
final class HeapMeter {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong()

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }, null, null)
    case _ => ()
  }

  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}

/** Runs operations under the hang guard: each runs on its own thread in a
  * job group and is cancelled when it passes its time limit. The guard
  * cannot stop a task that never polls for interruption, so a stuck task may
  * keep a core busy; the operation is still counted failed at its limit.
  */
final class Runner(w: Workload, spans: Spans, cpu: CpuMeter, limits: Map[String, Double],
                   progress: PrintWriter) {
  private val sc = w.spark.sparkContext
  private val seq = new AtomicInteger()
  w.ops.map(_.name).filterNot(limits.contains).foreach { n =>
    throw new IllegalArgumentException(s"limits.json has no limit for operation $n")
  }
  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
    }
  })

  def pass(kind: String, passOps: Seq[Op] = w.ops): PassResult = {
    w.sortPlans.clear()
    val (cc0, ct0) = Main.codegen
    val cpu0 = cpu.cpuNs.get
    var passSpan = 0
    val ops = spans(s"pass:$kind", "pass") {
      passSpan = spans.current
      passOps.map { op => val r = runOp(op, kind); w.cleanup(); r }
    }
    org.apache.spark.PerfbenchShim.drain(sc)
    val (cc1, ct1) = Main.codegen
    // the timed regions only: checks and between-operation cleanup excluded
    PassResult(kind, passSpan, ops.map(_.wall_s).sum, (cpu.cpuNs.get - cpu0) / 1e9, cc1 - cc0,
      (ct1 - ct0) / 1e6, ops, w.sortPlans.asScala.toSeq)
  }

  private def runOp(op: Op, kind: String): OpResult = {
    val group = s"perfbench-${seq.incrementAndGet()}"
    val limit = limits(op.name)
    var wall = 0.0
    var checkS = 0.0
    def timedCheck[T](body: => T): T = {
      val t0 = System.nanoTime()
      try spans("check", "check")(body) finally checkS = (System.nanoTime() - t0) / 1e9
    }
    val result = spans(op.name, "op") {
      val opSpan = spans.current
      val t0 = System.nanoTime()
      val f = pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = {
          sc.setJobGroup(group, op.name, interruptOnCancel = true)
          sc.setLocalProperty(Tracer.OpKey, group)
          sc.setLocalProperty(Tracer.PhaseKey, "run")
          try spans("run", "run", parent = opSpan)(op.run())
          finally {
            sc.clearJobGroup()
            sc.setLocalProperty(Tracer.OpKey, null)
            sc.setLocalProperty(Tracer.PhaseKey, null)
          }
        }
      })
      val outcome: Either[String, AnyRef] =
        try Right(f.get((limit * 1e9).toLong, TimeUnit.NANOSECONDS))
        catch {
          case _: TimeoutException =>
            // a streaming run's jobs carry its own job group: stop the query
            sc.cancelJobGroup(group); w.spark.streams.active.foreach(_.stop()); f.cancel(true)
            Left(f"hang guard: passed its $limit%.0f s limit")
          case e: ExecutionException => Left(s"threw: ${Runner.message(e.getCause)}")
        }
      wall = (System.nanoTime() - t0) / 1e9
      outcome.flatMap { out =>
        timedCheck {
          sc.setLocalProperty(Tracer.PhaseKey, "check")
          try op.check(out).toLeft(out)
          catch { case scala.util.control.NonFatal(e) =>
            Left(s"check threw: ${Runner.message(e)}") }
          finally sc.setLocalProperty(Tracer.PhaseKey, null)
        }
      }
    }
    val r = OpResult(op.name, op.family, group, op.rows, wall, checkS, result.isRight,
      result.left.getOrElse(""))
    progress.println(Json(Map("pass" -> kind) ++ Map(
      "name" -> r.name, "wall_s" -> r.wall_s, "ok" -> r.ok, "reason" -> r.reason)))
    progress.flush()
    r
  }
}

object Runner {
  def message(e: Throwable): String =
    Option(e).map(x => s"${x.getClass.getSimpleName}: ${Option(x.getMessage).getOrElse("")}"
      .linesIterator.toSeq.headOption.getOrElse("").take(300)).getOrElse("unknown")
}

/** The harness's JSON, through the Jackson that Spark ships: Scala maps,
  * sequences and case classes out; a tree for the one file read in.
  */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def read(path: String): JsonNode = mapper.readTree(new File(path))
}
