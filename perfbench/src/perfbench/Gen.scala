package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs. The base corpus is the sf0.1 `documents` (5,000 docs) and
  * `embeddings` (2,000 vectors of 64 dims) tables shipped under
  * `perfbench/data/sf0.1`. The run seed only sets the row order of each
  * replica and draws the queries.
  *
  * Replicas follow `graft.tools.ScaleBench.scaledDocs`: replica r > 0
  * suffixes every space-separated token with "x<r>", so replicas share no
  * shingles while each keeps the base corpus's duplicate structure, and ids
  * are offset by r · 10^7. Vector replica r rotates the dimensions left by r,
  * then negates them when r ≥ dim, so every within-replica cosine is exact.
  */
object Gen {
  val IdStride = 10000000L

  final case class Doc(id: Long, text: String, lang: String, source: String, nChars: Long)
  final case class Vec(id: Long, v: Array[Float], label: Int)

  final case class Base(docs: Array[Doc], vecs: Array[Vec]) {
    def docsAt(k: Int, seed: Long): Array[Doc] =
      shuffled(for (r <- 0 until k; d <- docs) yield replicaDoc(d, r), seed * 1009 + k)

    def vecsAt(k: Int, seed: Long): Array[Vec] =
      shuffled(for (r <- 0 until k; v <- vecs) yield replicaVec(v, r), seed * 2003 + k)
  }

  /** Reads the base tables from `dataDir` (sorted by id). */
  def load(spark: SparkSession, dataDir: String): Base = {
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val vecs = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
      .map(r => Vec(r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    Base(docs.sortBy(_.id), vecs.sortBy(_.id))
  }

  def replicaDoc(d: Doc, rep: Int): Doc =
    if (rep == 0) d
    else d.copy(id = rep * IdStride + d.id,
      text = d.text.split(" ", -1).map(t => s"${t}x$rep").mkString(" "))

  def replicaVec(v: Vec, rep: Int): Vec = {
    val dim = v.v.length
    require(rep < 2 * dim, s"vector replicas support k <= ${2 * dim}")
    val sign = if (rep >= dim) -1f else 1f
    Vec(rep * IdStride + v.id, Array.tabulate(dim)(d => sign * v.v((d + rep) % dim)), v.label)
  }

  private def shuffled[T: scala.reflect.ClassTag](xs: Seq[T], seed: Long): Array[T] = {
    val a = xs.toArray
    val rnd = new SplittableRandom(seed)
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Writes `documents.parquet` and `embeddings.parquet` for (seed, k) under
    * `cacheRoot` once; a `_READY` marker makes the pair reusable by later
    * runs with the same seed and replica count. The caller keys
    * `cacheRoot` by the benchmark's sources and data, so a changed
    * generator never reuses old tables. */
  def tables(spark: SparkSession, base: Base, cacheRoot: String, seed: Long, k: Int): String = {
    val dir = s"$cacheRoot/s${seed}_x$k"
    val ready = new java.io.File(dir, "_READY")
    if (!ready.exists()) {
      import scala.jdk.CollectionConverters._
      val docs = base.docsAt(k, seed).toSeq.map(d => Row(d.id, d.text, d.lang, d.source, d.nChars))
      val vecs = base.vecsAt(k, seed).toSeq.map(v => Row(v.id, v.v.toSeq, v.label))
      spark.createDataFrame(docs.asJava, docSchema)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      spark.createDataFrame(vecs.asJava, vecSchema)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      ready.createNewFile()
    }
    dir
  }

  /** Seeded draws: query doc ids, query vector batches, probe ids. */
  final class Draws(seed: Long, base: Base) {
    private val rnd = new SplittableRandom(seed * 7919 + 17)
    def docId(k: Int): Long = rnd.nextInt(k) * IdStride + base.docs(rnd.nextInt(base.docs.length)).id
    /** Standard deviation of the base vectors' components. */
    private val spread = {
      val xs = base.vecs.flatMap(_.v.map(_.toDouble))
      val mean = xs.sum / xs.length
      math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.length)
    }
    /** `n` query vectors: a random corpus vector at scale k plus Gaussian
      * noise of a third of the components' spread; ids lie outside every
      * replica. */
    def vectorBatch(k: Int, n: Int, firstId: Long): Array[(Long, Array[Float])] = {
      val g = new java.util.Random(rnd.nextLong())
      Array.tabulate(n) { i =>
        val v = replicaVec(base.vecs(rnd.nextInt(base.vecs.length)), rnd.nextInt(k))
        (firstId + i, v.v.map(x => (x + spread / 3 * g.nextGaussian()).toFloat))
      }
    }
    /** The id of a random corpus vector at scale k; it is also a doc id. */
    def vecId(k: Int): Long = rnd.nextInt(k) * IdStride + base.vecs(rnd.nextInt(base.vecs.length)).id
  }
}
