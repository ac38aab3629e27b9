package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-layer metrics of one traced loop. Times are medians over requests
  * of each layer's summed spans; counts and bytes are means per request.
  * The `execute.*` scheduler counts cover every job a request ran,
  * including the eager jobs an operator runs while it is constructed;
  * `operators.construct_jobs` is the share launched inside `operators`. */
object Layers {
  def apply(w: Workload, loop: Main.Loop, tracer: Tracer, l: LayerListener): Map[String, Double] = {
    val byReq = tracer.spans.groupBy(_.request)
    val n = math.max(1, byReq.size).toDouble
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; val m = s.size / 2
        if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2 }
    def layerS(layer: String) = median(byReq.values.map(_.filter(_.layer == layer).map(_.seconds).sum).toSeq)
    val coverage = byReq.values.map { ss =>
      val req = ss.find(_.layer == "request").map(_.seconds).getOrElse(0.0)
      if (req <= 0) 1.0 else ss.filter(_.layer != "request").map(_.seconds).sum / req
    }
    val all = l.total(g => g.contains("#"))
    val construct = l.total(_.startsWith("operators#"))
    val wall = loop.latencies.sum
    val builds = w.buildSeconds
    val bytes = w.artifactBytes
    Map(
      "sources.open_s" -> layerS("sources"),
      "sources.opens" -> tracer.spans.count(_.layer == "sources") / n,
      "sources.input_bytes" -> all.inputBytes / n,
      "operators.construct_s" -> layerS("operators"),
      "operators.construct_jobs" -> construct.jobs / n,
      "plan.s" -> layerS("plan"),
      "plan.exchanges" -> w.exchanges / n,
      "execute.s" -> layerS("execute"),
      "execute.jobs" -> all.jobs / n,
      "execute.stages" -> all.stages / n,
      "execute.tasks" -> all.tasks / n,
      "execute.task_run_s" -> all.runMs / 1e3 / n,
      "execute.task_cpu_s" -> all.cpuNs / 1e9 / n,
      "execute.gc_s" -> all.gcMs / 1e3 / n,
      "execute.sched_delay_s" -> all.schedMs / 1e3 / n,
      "execute.core_util" -> (if (wall > 0) all.runMs / 1e3 / (wall * Main.Cores) else 0.0),
      "execute.shuffle_write_bytes" -> all.shuffleWrite / n,
      "execute.shuffle_read_bytes" -> all.shuffleRead / n,
      "execute.spill_bytes" -> all.spill / n,
      "execute.peak_exec_memory_bytes" -> all.peakExecMem.toDouble,
      "storage.cache_peak_bytes" -> l.residentPeak.toDouble,
      "storage.resident_bytes_after" -> loop.residentAfter.lastOption.getOrElse(0L).toDouble,
      "storage.persisted_rdds_after" -> loop.persistedAfter.lastOption.getOrElse(0).toDouble,
      "trace.coverage" -> (if (coverage.isEmpty) 0.0 else coverage.min)
    ) ++ Seq("ivf_standing", "ivf_full", "bm25").flatMap { i =>
      Seq(s"operators.build_s.$i" -> median(builds.getOrElse(i, Nil)),
        s"operators.artifact_bytes.$i" -> bytes.getOrElse(i, 0L).toDouble)
    } ++ Seq("operators.index_bytes_per_input_byte" -> bytes.values.sum.toDouble / w.inputBytes)
  }
}

/** Rows per second of four public Column functions over the workload's own
  * generated rows, repeated up to at least `MinRows` so per-job overhead
  * does not hide the kernel, and cached first so the scan is not timed.
  * Median of three timings. */
object Functions {
  import graft.functions.TextFunctions.shingleSet
  import graft.functions.HashFunctions.{hashSet, minhashBandKeys, minhashFromHashes}
  import graft.operators.EmbeddingSearch.cosine

  val MinRows = 100000

  def apply(spark: SparkSession, dir: String, dim: Int): Map[String, Double] = {
    def repeated(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val copies = math.max(1L, (MinRows + df.count() - 1) / df.count())
      df.withColumn("copy", explode(sequence(lit(1L), lit(copies)))).drop("copy")
    }
    def rate(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column): Double = {
      val n = df.count()
      val times = (0 until 3).map(_ => Main.timed(df.select(sum(c)).collect())._2)
      n / times.sorted.apply(1)
    }
    val text = repeated(graft.sources.Tables.documents(spark, dir).select(col("text"))).persist()
    val hashes = text.select(hashSet(shingleSet(col("text"))).as("h")).persist()
    val sigs = hashes.select(minhashFromHashes(col("h"), 64).as("s")).persist()
    val vecs = repeated(graft.sources.Tables.embeddings(spark, dir)
      .select(transform(col("embedding"), _.cast("double")).as("v"))).persist()
    val q = array((1 to dim).map(d => lit(math.sin(d.toDouble))): _*)
    try Map(
      "functions.shingle_set.rows_per_s" -> rate(text, size(shingleSet(col("text")))),
      "functions.minhash.rows_per_s" -> rate(hashes, element_at(minhashFromHashes(col("h"), 64), 1)),
      "functions.band_keys.rows_per_s" -> rate(sigs, size(minhashBandKeys(col("s"), 16, 4))),
      "functions.cosine.rows_per_s" -> rate(vecs, cosine(col("v"), q)))
    finally Seq(text, hashes, sigs, vecs).foreach(_.unpersist())
  }
}
