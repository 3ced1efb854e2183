package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one `local[4]` JVM: set up the workload, run one
  * untimed warm pass, time passes over the workload's operations for the
  * requested seconds, then check the outputs outside the timed region.
  * With `--trace 1` half the seconds go to untraced passes and half to
  * passes with spans and engine counters on, followed by the workload's
  * per-layer probes.
  *
  * The run writes its raw record to `<out>/raw.json`; `run.py` turns it
  * into the benchmark's metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <table dir> --out <run dir>
  */
object Main {
  final case class Check(op: String, ok: Boolean, detail: String)

  final case class Pass(wallS: Double, ops: Map[String, Double], failed: Seq[String],
                        heapLiveMb: Double, storageMb: Double, hostBeforeS: Double, hostAfterS: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = opt("out")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w: Workload = workload match {
      case "mc_grid" => new McGrid(spark, seed)
      case "catalog" => new Catalog(spark, opt("data"), out)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    w.setup()
    w.beforePass()
    w.ops.foreach(op => attempt(w, op)) // warm pass: JIT, codegen, index builds
    w.afterWarm()
    val setupEnd = System.currentTimeMillis()

    // a traced run splits its seconds between untraced and traced passes
    val plain = timedPasses(w, if (trace) seconds / 2 else seconds)
    var traced = Seq.empty[Pass]
    var spans: Seq[Any] = Nil
    if (trace) {
      w.tr = new Tracer(spark.sparkContext, s"$workload-$seed", on = true)
      traced = w.tr.span("run")(timedPasses(w, seconds / 2))
      w.tr.span("layers")(w.layers())
      spans = w.tr.json
    }
    val checks = w.check()
    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup_end_epoch_ms" -> setupEnd, "setup_host_s" -> plain.head.hostBeforeS,
      "ops" -> w.ops,
      "passes" -> plain.map(passJson), "traced_passes" -> traced.map(passJson),
      "checks" -> checks.map(c => Map("op" -> c.op, "ok" -> c.ok, "detail" -> c.detail)),
      "oracle" -> w.oracle, "values" -> w.values.toMap, "spans" -> spans)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/raw.json"), Json(record))
    spark.stop()
  }

  private def passJson(p: Pass): Map[String, Any] = Map(
    "wall_s" -> p.wallS, "ops" -> p.ops, "failed" -> p.failed,
    "heap_live_mb" -> p.heapLiveMb, "storage_mb" -> p.storageMb,
    "host_s" -> (p.hostBeforeS + p.hostAfterS) / 2)

  /** Runs one operation; false when it throws. */
  private def attempt(w: Workload, op: String): Boolean =
    try { w.tr.span(op)(w.runOp(op)); true }
    catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $op failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
        false
    }

  /** Live heap and the block storage still held (cached and checkpointed
    * RDDs) after a full collection, a pause for the context cleaner to
    * release what that collection found unreachable, and a second one;
    * then, with the JVM quiet, the host-speed kernel's time. */
  private def settle(spark: SparkSession): (Double, Double, Double) = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val storage = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    (heap, storage, HostSpeed.measure())
  }

  /** Whole passes over the workload's operations until `seconds` of
    * pass time have elapsed; settling between passes is not timed. */
  private def timedPasses(w: Workload, seconds: Double): Seq[Pass] = {
    val passes = mutable.ArrayBuffer.empty[Pass]
    var measured = 0.0
    var hostBefore = settle(w.spark)._3
    while (measured < seconds) {
      w.beforePass()
      val times = mutable.LinkedHashMap.empty[String, Double]
      val failed = mutable.ArrayBuffer.empty[String]
      val t0 = System.nanoTime()
      w.tr.span("pass") {
        w.ops.foreach { op =>
          val s = System.nanoTime()
          if (!attempt(w, op)) failed += op
          times(op) = (System.nanoTime() - s) / 1e9
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      measured += wall
      val (heap, storage, hostAfter) = settle(w.spark)
      passes += Pass(wall, times.toMap, failed.toSeq, heap, storage, hostBefore, hostAfter)
      hostBefore = hostAfter
    }
    passes.toSeq
  }
}

/** A fixed single-threaded reference kernel, independent of the engine:
  * fill, sort and hash a preallocated array of 2^20 longs, then probe a
  * fixed hash table. Its time follows the host's speed (clock, memory
  * bandwidth, neighbours' load), so `run.py` prints it with each run to
  * show which runs a slow host disturbed. Best of seven, so one
  * preemption does not count. */
object HostSpeed {
  private val n = 1 << 20
  private val buf = new Array[Long](n)
  private val table = {
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    (0 until (1 << 16)).foreach(i => m.put(i.toLong * 2654435761L, i.toLong))
    m
  }
  private var sink = 0L

  private def once(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; buf(i) = x; i += 1 }
    java.util.Arrays.sort(buf)
    var h = 0L
    i = 0
    while (i < n) {
      h = h * 31 + buf(i)
      val v = table.get(java.lang.Long.valueOf((i & 0xffff).toLong * 2654435761L))
      if (v != null) h += v
      i += 1
    }
    sink += h
    (System.nanoTime() - t0) / 1e9
  }

  def measure(): Double = (1 to 7).map(_ => once()).min
}

/** A workload: the operations of one pass, their inputs, and the checks
  * of their outputs. */
abstract class Workload(val spark: SparkSession) {
  var tr: Tracer = new Tracer(spark.sparkContext, "untraced", on = false)
  /** Per-layer values measured directly rather than from spans. */
  val values: mutable.Map[String, Double] = mutable.Map.empty

  def ops: Seq[String]
  def setup(): Unit
  def runOp(op: String): Unit
  def beforePass(): Unit = ()
  def afterWarm(): Unit = ()
  /** Extra per-layer probes, run only in traced runs after the passes. */
  def layers(): Unit = ()
  def check(): Seq[Main.Check]
  /** DuckDB SQL per operation whose output `run.py` compares. */
  def oracle: Map[String, String] = Map.empty

  /** Runs `body` `n` times, each in its own span named `name`. */
  protected def repeat[A](name: String, n: Int, attrs: Map[String, Double] = Map.empty)(body: => A): A =
    (1 to n).map(_ => tr.span(name, attrs)(body)).last
}

object Close {
  /** |a − b| within `tol` of max(1, |b|). */
  def apply(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
}
