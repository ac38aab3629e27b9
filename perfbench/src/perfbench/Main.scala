package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark process: one workload, one seed, one fresh JVM with a
  * single client thread over `local[4]`. Prints one raw record (prefixed
  * `PERFBENCH_RAW `) that `perfbench/summarize.py` turns into metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --cache <dir> --data <dir>
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    def log(what: String): Unit =
      System.err.println(s"perfbench: $what at ${(System.currentTimeMillis() - jvmStartMs) / 1e3} s")
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.artifactRoot", s"$work/artifacts")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000).selectExpr("sum(id)", "count(distinct id % 7)").collect()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log("session ready")

    val base = Gen.load(spark, opt("data"))
    val w = Workloads(workload, spark, base, seed, opt("cache"), s"$work/artifacts")
    val off = new Tracer(spark, on = false)
    log("inputs ready")
    val prepareS = (0 until w.setupReps).map(r => timed(w.prepare(r))._2)
    val warmupS = timed(for (c <- 0 until w.warmupCycles; k <- w.kinds.indices)
      w.request(k, -1 - c * w.kinds.size - k, off))._2

    log("set-up done")
    val heap = new HeapWatch
    val loops = mutable.ArrayBuffer(runLoop(w, off, seconds, heap, None))
    var layers = Map.empty[String, Double]
    if (traced) {
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer(spark, on = true)
      loops += runLoop(w, tracer, seconds, heap, Some(listener))
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      layers = Layers(w, loops.last, tracer, listener) ++ Functions(spark, w.dir, base.vecs.head.v.length)
    }
    heap.close()
    log("loops done")

    val record = Map(
      "workload" -> workload, "seed" -> seed, "replicas" -> w.k,
      "session_s" -> sessionS, "prepare_s" -> prepareS, "warmup_s" -> warmupS,
      "loops" -> loops.map(_.toMap),
      "attempted" -> loops.map(_.latencies.size).sum,
      "failed" -> loops.map(_.failed).sum,
      "recall_hit" -> w.recallHit, "recall_total" -> w.recallTotal,
      "errors" -> loops.flatMap(_.errors).take(20), "layers" -> layers)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    println("PERFBENCH_RAW " + json.writeValueAsString(record))
    spark.stop()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  final case class Loop(traced: Boolean, kinds: Seq[String], latencies: Seq[Double], rows: Seq[Long],
      failed: Int, errors: Seq[String], heapPeakBytes: Long,
      residentAfter: Seq[Long], persistedAfter: Seq[Int]) {
    def toMap: Map[String, Any] = Map("traced" -> traced, "latency_s" -> latencies,
      "kind" -> latencies.indices.map(_ % kinds.size),
      "rows" -> rows, "failed" -> failed, "heap_live_peak_bytes" -> heapPeakBytes,
      "resident_bytes_after" -> residentAfter, "persisted_rdds_after" -> persistedAfter)
  }

  /** Closed loop, one client: the next request starts when the previous
    * one has returned. Runs whole cycles of the request mix until
    * `seconds` have passed and at least `minRequests` requests have run.
    * Between requests, outside their timing, the output is checked and
    * dropped. A full GC runs after each cycle of the mix, so the heap
    * reading after it is the program's live heap, not results held for
    * checking, while requests within a cycle still meet old-generation
    * pressure. */
  def runLoop(w: Workload, tracer: Tracer, seconds: Double, heap: HeapWatch,
      listener: Option[LayerListener]): Loop = {
    val sc = w.spark.sparkContext
    val lat = mutable.ArrayBuffer.empty[Double]
    val rows = mutable.ArrayBuffer.empty[Long]
    val resident = mutable.ArrayBuffer.empty[Long]
    val persisted = mutable.ArrayBuffer.empty[Int]
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0
    System.gc()
    heap.peakAfterFullGc = 0L
    heap.arm()
    listener.foreach(_.resetPeak())
    val start = System.nanoTime()
    var i = 0
    while (i < w.minRequests || (System.nanoTime() - start) / 1e9 < seconds || i % w.kinds.size != 0) {
      tracer.beginRequest(i)
      val t0 = System.nanoTime()
      val done =
        try Some(tracer("request")(w.request(i % w.kinds.size, i, tracer)))
        catch { case e: Throwable => errors += s"request $i (${w.kinds(i % w.kinds.size)}): $e"; None }
      lat += (System.nanoTime() - t0) / 1e9
      done match {
        case Some(d) =>
          rows += d.inputRows
          val problems = try d.verify() catch { case e: Throwable => Seq(s"check threw $e") }
          if (problems.nonEmpty) { failed += 1; errors ++= problems.take(3).map(p => s"request $i: $p") }
        case None => rows += 0L; failed += 1
      }
      resident += sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      persisted += sc.getPersistentRDDs.size
      i += 1
      if (i % w.kinds.size == 0) System.gc()
    }
    Thread.sleep(200) // GC notifications arrive asynchronously
    val peak = heap.peakAfterFullGc
    Loop(tracer.on, w.kinds, lat.toSeq, rows.toSeq, failed, errors.toSeq, peak,
      resident.toSeq, persisted.toSeq)
  }
}

/** What a request hands back: the input rows it covered and a check of
  * its output (error messages; empty when correct), run outside its timing. */
final case class Done(inputRows: Long, verify: () => Seq[String])

abstract class Workload(val spark: SparkSession, val dir: String, val k: Int) {
  def kinds: Seq[String]
  def setupReps: Int = 1
  /** Untimed cycles of the request mix before the loop: the JIT keeps
    * compiling the planner and operators for the first few dozen calls,
    * and timing them would measure the warm-up, not the program. */
  def warmupCycles: Int = 1
  /** Fewest timed requests per loop: the tail percentile needs at least
    * 10 samples beyond it, so 24 samples put it above the median. */
  def minRequests: Int = 24
  /** Set-up work repeated `setupReps` times: index builds. */
  def prepare(rep: Int): Unit = ()
  def request(kind: Int, i: Int, t: Tracer): Done
  /** Seconds per index build of the last `prepare`, by index name. */
  def buildSeconds: Map[String, Seq[Double]] = Map.empty
  def artifactBytes: Map[String, Long] = Map.empty
  def inputBytes: Long = Files.bytesUnder(s"$dir/documents.parquet") + Files.bytesUnder(s"$dir/embeddings.parquet")
  @volatile var recallHit = 0L
  @volatile var recallTotal = 0L
  var exchanges = 0L

  /** Plan then execute one frame. Traced runs take the executed plan in
    * its own span; untraced runs let the action plan it, as a user's would. */
  def run(df: DataFrame, t: Tracer): Array[Row] = {
    if (t.on) t("plan") {
      val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan
      val root = plan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      exchanges += root.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }.size
    }
    t("execute")(df.collect())
  }
}

object Files {
  def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => bytesUnder(c.getPath)).sum).getOrElse(0L)
  }

  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.listFiles).foreach(_.foreach(c => delete(c.getPath)))
    f.delete()
  }
}
