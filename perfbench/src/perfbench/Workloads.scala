package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.operators.{BookQuery, Dedup, EmbeddingSearch, SimilarityJoin, TextAnalysis}

object Workloads {
  /** Replica count per workload. Sized so one run (fresh JVM, set-up, a
    * 20 s loop and the checks) stays near a minute on 4 cores. */
  val Replicas = Map("ref_query" -> 1, "corpus_dedup" -> 1, "vector_serve" -> 2, "knn_graph" -> 1)

  def apply(name: String, spark: SparkSession, base: Gen.Base, seed: Long, cache: String,
      artifacts: String): Workload = {
    val k = Replicas.getOrElse(name, sys.error(s"unknown workload '$name'"))
    val dir = Gen.tables(spark, base, cache, seed, k)
    name match {
      case "ref_query" => new RefQuery(spark, dir, k, seed, base)
      case "corpus_dedup" => new CorpusDedup(spark, dir, k, base)
      case "vector_serve" => new VectorServe(spark, dir, k, seed, artifacts, base)
      case "knn_graph" => new KnnGraph(spark, dir, k, seed, base)
    }
  }

  def firstMismatch[K, V](what: String, got: Map[K, V], want: Map[K, V]): Seq[String] =
    if (got == want) Nil
    else {
      val missing = want.keys.filterNot(got.contains).take(2)
      val extra = got.keys.filterNot(want.contains).take(2)
      val diff = want.keys.filter(x => got.get(x).exists(_ != want(x))).take(2)
        .map(x => s"$x: got ${got(x)} want ${want(x)}")
      Seq(s"$what: ${got.size} rows vs ${want.size} expected; missing $missing; " +
        s"unexpected $extra; differing $diff")
    }

  def counts[T](xs: Iterable[T]): Map[T, Int] = xs.groupBy(identity).map { case (x, g) => x -> g.size }
}

import Workloads.firstMismatch

/** The paper's query: one corpus scored against one seeded query doc. */
final class RefQuery(spark: SparkSession, dir: String, k: Int, seed: Long, base: Gen.Base)
    extends Workload(spark, dir, k) {
  val kinds = Seq("reference", "jaccard", "topk")
  override val warmupCycles = 6
  private val draws = new Gen.Draws(seed, base)
  /** 16 seeded query docs; 16 is prime to the 3 kinds, so in turn every
    * query meets every kind. */
  private val queries = Array.fill(16)(draws.docId(k))
  private def shingleSets(): Map[Long, Set[String]] =
    base.docsAt(k, seed).map(d => d.id -> Reference.shingles(d.text)).toMap

  /** A result map's size and two order-free 32-bit hashes of its entries. */
  private def fingerprint(m: Map[Long, _]) =
    (m.size, MurmurHash3.unorderedHash(m, 0x3c6ef372), MurmurHash3.unorderedHash(m, 0x510e527f))

  /** Expected results per query, computed before set-up so that nothing
    * the harness holds grows during the timed loop: fingerprints of the
    * reference and Jaccard maps, and the top-10 list. A request whose
    * fingerprint differs is compared row by row against a recomputation. */
  private val expected = {
    val sets = shingleSets()
    queries.distinct.map { q =>
      val ref = Reference.referenceScores(sets, q)
      q -> (fingerprint(ref), fingerprint(Reference.jaccardScores(sets, q)), Reference.topK(ref, 10))
    }.toMap
  }

  def request(kind: Int, i: Int, t: Tracer): Done = {
    val q = queries(Math.floorMod(i, queries.length))
    val docs = t("sources")(Tables.documents(spark, dir))
    val df = t("operators")(kind match {
      case 0 => BookQuery.referenceScores(docs, q)
      case 1 => BookQuery.jaccardScores(docs, q)
      case _ => BookQuery.topK(BookQuery.referenceScores(docs, q), "score", 10)
    })
    val rows = run(df, t)
    Done(base.docs.length.toLong * k, () => check(kind, q, rows))
  }

  private def refRow(r: Row) = Reference.RefRow(r.getAs[Long]("doc_id"), r.getAs[Long]("len"),
    r.getAs[Long]("sum_shared"), r.getAs[Double]("score"))

  /** Exact results: recall counts the expected rows returned unchanged. */
  private def check(kind: Int, q: Long, rows: Array[Row]): Seq[String] = {
    val (refPrint, jaccardPrint, top) = expected(q)
    def compare[V](what: String, got: Map[Long, V], want: (Int, Int, Int), full: => Map[Long, V]) =
      if (fingerprint(got) == want) { recallHit += want._1; recallTotal += want._1; Nil }
      else {
        val all = full
        recallHit += all.count { case (id, v) => got.get(id).contains(v) }
        recallTotal += all.size
        firstMismatch(s"$what q=$q", got, all)
      }
    kind match {
      case 0 => compare("reference", rows.map(r => r.getAs[Long]("doc_id") -> refRow(r)).toMap,
        refPrint, Reference.referenceScores(shingleSets(), q))
      case 1 => compare("jaccard", rows.map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("inter_len"), r.getAs[Long]("union_len"), r.getAs[Double]("jaccard")))).toMap,
        jaccardPrint, Reference.jaccardScores(shingleSets(), q))
      case _ =>
        val got = rows.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
        recallHit += top.zip(got).count { case (a, b) => a == b }
        recallTotal += top.size
        if (got == top) Nil else Seq(s"topk q=$q: got ${got.take(3)} want ${top.take(3)}")
    }
  }
}

/** Batch curation over a replicated corpus. A pass of the four operators is
  * three requests: exact groups with MinHash-LSH candidate pairs (the
  * detection step), clusters over those pairs, and exact all-pairs Jaccard.
  * Exact groups take a fifth of an LSH call; as a request of their own they
  * would make half the mix fast and half slow, and the median would fall
  * in the gap between the halves. */
final class CorpusDedup(spark: SparkSession, dir: String, k: Int, base: Gen.Base)
    extends Workload(spark, dir, k) {
  val kinds = Seq("groups_and_lsh", "clusters", "all_pairs")
  override val warmupCycles = 2
  private val Tau = 0.7
  private val stride = Gen.IdStride

  def request(kind: Int, i: Int, t: Tracer): Done = {
    val docs = t("sources")(Tables.documents(spark, dir))
    // a pass covers every doc once: its first request counts them
    val passRows = if (kind == 0) base.docs.length.toLong * k else 0L
    kind match {
      case 0 =>
        val groups = run(t("operators")(Dedup.exactGroups(docs)), t)
        val lsh = run(t("operators")(Dedup.minhashLshPairs(docs, Tau)), t)
        Done(passRows, () => checkGroups(groups) ++ checkLsh(lsh))
      case 1 =>
        val rows = run(t("operators")(Dedup.dedupClusters(docs, Dedup.minhashLshPairs(docs, Tau))), t)
        Done(passRows, () => checkClusters(rows))
      case _ =>
        val rows = run(t("operators")(SimilarityJoin.allPairsJaccard(docs, Tau)), t)
        Done(passRows, () => checkPairs(rows))
    }
  }

  private def group(r: Row) = (r.getAs[String]("text_hash"), r.getAs[Long]("n_copies"), r.getAs[Long]("keeper"))
  private def pair(r: Row) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
    r.getAs[Long]("inter_len"), r.getAs[Long]("union_len"), r.getAs[Double]("jaccard"))

  /** Exact groups and exact all-pairs of the base corpus, recomputed on
    * the Spark driver: groups by MD5 of the text, pairs through an inverted
    * shingle index. */
  private val (baseGroups, basePairs) = {
    val docs = base.docs
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val groups = docs.groupBy(_.text).map { case (text, ds) =>
      (md5.digest(text.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString,
        ds.length.toLong, ds.map(_.id).min)
    }.toSet
    val sets = docs.map(d => d.id -> Reference.shingles(d.text)).filter(_._2.nonEmpty).toMap
    val posting = sets.toSeq.flatMap { case (id, s) => s.toSeq.map(_ -> id) }.groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2) }
    val pairs = sets.iterator.flatMap { case (a, sa) =>
      val shared = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      for (t <- sa; b <- posting(t) if b > a) shared(b) += 1
      shared.iterator.flatMap { case (b, inter) =>
        val union = sa.size + sets(b).size - inter
        val j = inter.toDouble / union.toDouble
        if (j >= Tau) Some((a, b, inter, union, Reference.round6(j))) else None
      }
    }.toSet
    (groups, pairs)
  }
  /** Exact pairs at ×K: replicas share no shingles, so K offset copies. */
  private val exactPairs: Set[(Long, Long)] =
    for ((a, b, _, _, _) <- basePairs; r <- (0 until k).toSet[Int]) yield (r * stride + a, r * stride + b)
  /** The pairs of the last LSH request, for the clusters request after it. */
  private var lastLsh: Option[Set[(Long, Long)]] = None

  /** The exact groups are K copies of the base corpus's, and replica 0 is
    * the base corpus itself. */
  private def checkGroups(rows: Array[Row]): Seq[String] = {
    val g = rows.map(group)
    val errs = mutable.ArrayBuffer.empty[String]
    if (g.count(_._3 < stride).toLong * k != g.length || g.filter(_._3 < stride).toSet != baseGroups)
      errs += s"exact groups: ${g.length} groups, replica-0 slice differs from the base's ${baseGroups.size}"
    if (Workloads.counts(g.map(x => (x._2, x._3 % stride))) != baseGroups.map(x => (x._2, x._3) -> k).toMap)
      errs += "exact groups are not K copies of the base groups"
    errs.toSeq
  }

  private def checkLsh(rows: Array[Row]): Seq[String] = {
    val found = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    recallHit += (found intersect exactPairs).size
    recallTotal += exactPairs.size
    lastLsh = Some(found)
    if (found.subsetOf(exactPairs)) Nil
    else Seq(s"lsh: ${(found -- exactPairs).size} pairs below the threshold")
  }

  private def checkClusters(rows: Array[Row]): Seq[String] = {
    val comp = Reference.componentMin(lastLsh.getOrElse(Set.empty))
    val badKeeper = rows.count(r => r.getAs[Long]("keeper") !=
      comp.getOrElse(r.getAs[Long]("doc_id"), r.getAs[Long]("doc_id")))
    (if (lastLsh.isEmpty) Seq("clusters: no LSH pairs to compare with") else Nil) ++
      (if (rows.length != base.docs.length * k || badKeeper > 0)
        Seq(s"clusters: ${rows.length} rows, $badKeeper keepers differ from the LSH pairs' components")
      else Nil)
  }

  private def checkPairs(rows: Array[Row]): Seq[String] = {
    val p = rows.map(pair)
    val errs = mutable.ArrayBuffer.empty[String]
    if (p.exists(x => x._1 / stride != x._2 / stride)) errs += "all-pairs: a pair crosses replicas"
    if (p.filter(_._1 < stride).toSet != basePairs)
      errs += s"all-pairs: replica-0 slice differs from the base's ${basePairs.size} pairs"
    if (Workloads.counts(p.map(x => (x._1 % stride, x._2 % stride, x._3, x._4, x._5))) != basePairs.map(_ -> k).toMap)
      errs += s"all-pairs: ${p.length} pairs are not K copies of the base's ${basePairs.size}"
    errs.toSeq
  }
}

/** Serving from standing indexes that set-up builds into the empty
  * artifact root: a kNN batch, a filtered kNN batch and a hybrid query. */
final class VectorServe(spark: SparkSession, dir: String, k: Int, seed: Long, root: String,
    base: Gen.Base) extends Workload(spark, dir, k) {
  val kinds = Seq("knn", "filtered", "hybrid")
  override val setupReps = 3
  private val draws = new Gen.Draws(seed, base)
  private val Batch = 10
  private val Label = 3
  private var rep = -1
  private def path(index: String) = s"$root/rep$rep/$index"
  private val builds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  override def prepare(r: Int): Unit = {
    if (rep >= 0) Files.delete(s"$root/rep$rep")
    rep = r
    def build(name: String)(body: => Unit): Unit =
      builds.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += Main.timed(body)._2
    build("ivf_standing")(EmbeddingSearch.ensureStandingIvfIndex(spark, dir, path("ivf_standing")))
    build("bm25")(TextAnalysis.ensureBm25Index(spark, dir, path("bm25")))
    build("ivf_full")(EmbeddingSearch.ensureIvfIndex(spark, dir, path("ivf_full")))
  }
  override def buildSeconds: Map[String, Seq[Double]] = builds.map { case (n, s) => n -> s.toSeq }.toMap
  override def artifactBytes: Map[String, Long] =
    Seq("ivf_standing", "bm25", "ivf_full").map(n => n -> Files.bytesUnder(path(n))).toMap

  private val corpus: Array[(Long, Array[Double], Int)] =
    base.vecsAt(k, seed).map(v => (v.id, v.v.map(_.toDouble), v.label))
  private val all = corpus.map(c => (c._1, c._2))
  private val labelled = corpus.filter(_._3 == Label).map(c => (c._1, c._2))
  private val batchSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  def request(kind: Int, i: Int, t: Tracer): Done = kind match {
    case 0 | 1 =>
      val batch = draws.vectorBatch(k, Batch, 900000000L + 100L * Math.floorMod(i, 1000000))
      val local = batch.map { case (id, v) => (id, v.map(_.toDouble)) }
      val df = t("sources") {
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(batch.toSeq.map { case (id, v) => Row(id, v.toSeq) }.asJava, batchSchema)
      }
      val (topK, corpusFor) = if (kind == 0) (3, all) else (5, labelled)
      val op = t("operators")(
        if (kind == 0) EmbeddingSearch.knnBatchAgainstIvfIndex(df, path("ivf_standing"),
          k = topK, nprobe = 2, localQ = Some(local))
        else EmbeddingSearch.filteredKnnBatchAgainstIvfIndex(df, path("ivf_standing"),
          col("label") === Label, k = topK, localQ = Some(local)))
      val rows = run(op, t)
      Done(Batch, () => recall(rows, local, topK, corpusFor))
    case _ =>
      val q = draws.vecId(k)
      val op = t("operators")(TextAnalysis.hybridTopKServed(spark, path("bm25"), path("ivf_full"), queryId = q))
      val rows = run(op, t)
      Done(1, () => checkHybrid(q, rows))
  }

  private def recall(rows: Array[Row], batch: Array[(Long, Array[Double])], topK: Int,
      corpusFor: Array[(Long, Array[Double])]): Seq[String] = {
    val got = rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val errs = mutable.ArrayBuffer.empty[String]
    for ((q, v) <- batch) {
      val want = Reference.exactTopK(v, corpusFor, topK).toSet
      val have = got.getOrElse(q, Set.empty)
      if (have.size > topK) errs += s"query $q returned ${have.size} > $topK neighbours"
      recallHit += (have intersect want).size
      recallTotal += want.size
    }
    errs.toSeq
  }

  private val hybridChecked = mutable.LinkedHashMap.empty[Long, Seq[String]]
  private def rowKey(r: Row) = r.toSeq.mkString("|")

  /** The served hybrid ranking must equal the per-call `hybridTopK` for
    * the same doc; two query docs per run are recomputed. */
  private def checkHybrid(q: Long, rows: Array[Row]): Seq[String] =
    if (rows.isEmpty) Seq(s"hybrid q=$q returned no rows")
    else if (!hybridChecked.contains(q) && hybridChecked.size >= 2) Nil
    else {
      val want = hybridChecked.getOrElseUpdate(q, TextAnalysis.hybridTopK(
        Tables.documents(spark, dir), Tables.embeddings(spark, dir), q).collect().map(rowKey).sorted.toSeq)
      val got = rows.map(rowKey).sorted.toSeq
      if (got == want) Nil else Seq(s"hybrid q=$q: got ${got.take(2)} want ${want.take(2)}")
    }
}

/** NN-descent kNN graph over the replicated vectors. */
final class KnnGraph(spark: SparkSession, dir: String, k: Int, seed: Long, base: Gen.Base)
    extends Workload(spark, dir, k) {
  val kinds = Seq("descent")
  /** A call takes about 4 s: 24 of them would not fit a traced run's
    * deadline, so this workload's tail is its median. */
  override val minRequests = 8
  private val K = 3
  private val draws = new Gen.Draws(seed, base)
  private val probes = Array.fill(200)(draws.vecId(k)).distinct
  private val corpus = base.vecsAt(k, seed).map(v => (v.id, v.v.map(_.toDouble)))
  private val exact: Map[Long, Set[Long]] = {
    val byId = corpus.toMap
    probes.map(p => p -> Reference.exactTopK(byId(p), corpus, K, self = p).toSet).toMap
  }

  def request(kind: Int, i: Int, t: Tracer): Done = {
    val rows = run(t("operators")(EmbeddingSearch.knnJoinDescent(spark, dir)), t)
    Done(base.vecs.length.toLong * k, () => check(rows))
  }

  private def check(rows: Array[Row]): Seq[String] = {
    val graph = rows.groupBy(_.getAs[Long]("vec_id")).map { case (v, rs) =>
      v -> rs.map(_.getAs[Long]("nbr_id")).toSet }
    val errs = mutable.ArrayBuffer.empty[String]
    if (graph.size != corpus.length) errs += s"graph covers ${graph.size} of ${corpus.length} vectors"
    if (graph.exists { case (v, ns) => ns.size > K || ns.contains(v) }) errs += "graph has a self edge or > k neighbours"
    for (p <- probes) {
      recallHit += (graph.getOrElse(p, Set.empty) intersect exact(p)).size
      recallTotal += exact(p).size
    }
    errs.toSeq
  }
}
