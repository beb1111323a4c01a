package graft.functions

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Pluggable text-embedding seam (reference F3, SURVEY.md §2.8): the
 * reference's embedder is a real model (SentenceTransformer MiniLM,
 * /root/reference/src/embeddings.py:3) behind a `texts -> vectors` surface.
 * This trait is that surface for the engine: every consumer (q_embed_knn's
 * pipeline shape, the inversion attack loop) takes an [[Embedder]], so a
 * user with ONNX MiniLM weights drops them in via [[BatchedModelEmbedder]]
 * without touching any query — [[HashEmbedder]] stays the hermetic default
 * (deterministic, codegen, oracle-verifiable).
 */
trait Embedder extends Serializable {
  def dim: Int

  /** Append `outCol` (ARRAY<FLOAT>, width [[dim]]) embedding `textCol`. */
  def embed(df: DataFrame, textCol: String, outCol: String): DataFrame

  /** One text — for driver/executor-local loops. Both inversion loops use
    * it: the evolutionary search scores each generation's candidates in the
    * driver JVM, and each greedy hill-climb restart embeds one candidate
    * per step inside its executor task. */
  def embedOne(text: String): Array[Float]
}

object Embedder {
  /** The q_embed_knn pipeline shape, embedder-agnostic: embed the corpus,
    * probe with row `probeId`'s embedding, exact cosine top-k of the rest.
    * One narrow embed pass + broadcast probe + TakeOrderedAndProject —
    * the plan is identical whichever embedder runs the map stage. */
  def knnByText(docs: DataFrame, idCol: String, textCol: String,
                probeId: Long, k: Int, embedder: Embedder): DataFrame = {
    val embedded = embedder.embed(docs.select(col(idCol), col(textCol)), textCol, "emb")
    // the probe embeds via embedOne on its fetched text — filtering the
    // embedded frame instead would run the (model) encode pass over the
    // whole corpus a second time just to keep one row, since the predicate
    // cannot push below a mapPartitions embed stage
    val probeRow = docs.filter(col(idCol) === probeId)
      .select(col(textCol)).limit(1).collect().headOption
    if (probeRow.isEmpty) // unknown probe id -> empty result, not a throw
      return embedded.filter(lit(false))
        .select(col(idCol), lit(0.0).as("cos")).limit(0)
    val probeText = Option(probeRow.get.getString(0)).getOrElse("")
    val qe = typedlit(embedder.embedOne(probeText))
    embedded
      .filter(col(idCol) =!= probeId)
      .withColumn("cos_raw", VF.cosine(col("emb"), qe))
      .orderBy(desc("cos_raw"), asc(idCol))
      .limit(k)
      .select(col(idCol), round(col("cos_raw"), 6).as("cos"))
  }
}

/** Hermetic default: the codegen hashing embedder ([[HashEmbed]] kernel —
  * tokenize → hash-bucket counts → L2 normalize). Capability parity with
  * the reference's encoder (text → fixed-dim similarity-preserving vector);
  * bit-reproducible, so oracle queries stay hash-verifiable. */
final case class HashEmbedder(dim: Int) extends Embedder {

  override def embed(df: DataFrame, textCol: String, outCol: String): DataFrame =
    df.withColumn(outCol, TF.hashEmbed(TF.tokens(col(textCol)), dim))

  override def embedOne(text: String): Array[Float] = {
    // probe/corpus embedding parity holds by CONSTRUCTION: the driver path
    // runs the same TextHashOps.tokenize kernel the codegen Tokenize
    // expression runs (a reimplemented lowering — even Locale.ROOT — can
    // diverge from UTF8String.toLowerCase on non-ASCII input)
    val toks = TextHashOps.tokenize(UTF8String.fromString(text))
      .toArray[UTF8String](org.apache.spark.sql.types.StringType)
    TextHashOps.hashEmbed(toks, dim)
  }
}

object BatchedModelEmbedder {
  // executor-JVM-wide model cache: the model loads ONCE per executor no
  // matter how many tasks deserialize the embedder (the broadcast-model
  // pattern; the closure itself only carries the loader)
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private[functions] def getOrLoad[M](key: String, load: () => M): M =
    cache.computeIfAbsent(key, _ => load().asInstanceOf[AnyRef]).asInstanceOf[M]
}

/** Model-backed embedder — the slot where real weights (ONNX MiniLM etc.)
  * plug in. `loadModel` runs once per executor JVM, cached under
  * `(name, dim)` — `name` must identify the model ARTIFACT (two embedders
  * sharing a key share whichever model loaded first);
  * `encodeBatch` maps a batch of texts to `dim`-width vectors and is called
  * with at most `batchSize` texts at a time inside `mapPartitions` — the
  * batched executor-side shape the reference's own encoder uses
  * (model.encode over a list, /root/reference/src/embeddings.py:5-6; the
  * same stage pattern as Reconstruct's pluggable LLM call). */
final class BatchedModelEmbedder[M](
    name: String,
    override val dim: Int,
    loadModel: () => M,
    encodeBatch: (M, Seq[String]) => Seq[Array[Float]],
    batchSize: Int = 64) extends Embedder {
  require(batchSize > 0, "batchSize must be positive")

  private def model: M = BatchedModelEmbedder.getOrLoad(s"$name/dim=$dim", loadModel)

  override def embed(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val idx = df.schema.fieldIndex(textCol)
    val outSchema = df.schema
      .add(StructField(outCol, ArrayType(FloatType, containsNull = false), nullable = false))
    val bs = batchSize
    df.mapPartitions { it =>
      val m = model
      it.grouped(bs).flatMap { batch =>
        val vecs = encodeBatch(m, batch.map(_.getString(idx)))
        require(vecs.length == batch.length, "encodeBatch must return one vector per text")
        batch.lazyZip(vecs).map((r, v) => Row.fromSeq(r.toSeq :+ v.toSeq))
      }
    }(Encoders.row(outSchema))
  }

  override def embedOne(text: String): Array[Float] =
    encodeBatch(model, Seq(text)).head
}

/** REAL-WEIGHTS demo of the [[BatchedModelEmbedder]] seam: the model is a
  * binary artifact on disk — magic int, int32 dim, int32 buckets, then
  * buckets×dim float32 rows, all little-endian — the learned projection
  * matrix of a bag-of-hashed-tokens encoder (the embedding-layer half of
  * the reference's MiniLM encode, /root/reference/src/embeddings.py:3-6; a
  * transformer runtime is out of scope for a zero-dependency JVM build,
  * but every seam a real model needs is exercised end-to-end: artifact
  * load ONCE per executor JVM, batched executor-side encode, driver
  * embedOne parity). Tokens hash into `buckets` with the same kernel hash
  * as [[HashEmbedder]]; a text embeds as the L2-normalized sum of its
  * tokens' weight rows. `GRAFT_EMBED_WEIGHTS` points at an artifact to
  * enable [[fromEnv]]; when unset, callers keep the hermetic default (the
  * EmbedderSpec wiring proof generates its own artifact, so CI never
  * depends on external files). */
object WeightFileEmbedder {
  val EnvVar = "GRAFT_EMBED_WEIGHTS"
  private val Magic = 0x47465457 // "GFTW"
  private val HeaderBytes = 12

  final case class Weights(dim: Int, buckets: Int, rows: Array[Array[Float]])

  /** Write an artifact (dev/test utility and the documented format spec). */
  def write(path: String, dim: Int, buckets: Int, cell: (Int, Int) => Float): Unit = {
    val bb = java.nio.ByteBuffer.allocate(HeaderBytes + 4 * buckets * dim)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(Magic).putInt(dim).putInt(buckets)
    var b = 0
    while (b < buckets) {
      var d = 0
      while (d < dim) { bb.putFloat(cell(b, d)); d += 1 }
      b += 1
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bb.array()): Unit
  }

  def load(path: String): Weights = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bb.remaining() >= HeaderBytes && bb.getInt() == Magic,
      s"$path is not a GFTW weights artifact")
    val dim = bb.getInt()
    val buckets = bb.getInt()
    require(dim > 0 && buckets > 0 && bb.remaining() == 4 * buckets * dim,
      s"$path: truncated weights (dim=$dim buckets=$buckets rem=${bb.remaining()})")
    val rows = Array.ofDim[Float](buckets, dim)
    var b = 0
    while (b < buckets) {
      var d = 0
      while (d < dim) { rows(b)(d) = bb.getFloat(); d += 1 }
      b += 1
    }
    Weights(dim, buckets, rows)
  }

  /** Dimension from the artifact header only — construction must not pull
    * the full matrix into the driver (executors load it themselves, once). */
  private def headerDim(path: String): Int = {
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try {
      val hdr = in.readNBytes(HeaderBytes)
      val bb = java.nio.ByteBuffer.wrap(hdr).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      require(hdr.length == HeaderBytes && bb.getInt() == Magic,
        s"$path is not a GFTW weights artifact")
      bb.getInt()
    } finally in.close()
  }

  private def encode(w: Weights, text: String): Array[Float] = {
    val toks = TextHashOps.tokenize(UTF8String.fromString(text))
    val acc = new Array[Double](w.dim)
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      val row = w.rows((TextHashOps.polyHash(toks.getUTF8String(i)) % w.buckets).toInt)
      var d = 0
      while (d < w.dim) { acc(d) += row(d); d += 1 }
      i += 1
    }
    var nsq = 0.0
    var d = 0
    while (d < w.dim) { nsq += acc(d) * acc(d); d += 1 }
    val nrm = math.sqrt(nsq)
    val out = new Array[Float](w.dim)
    d = 0
    while (d < w.dim) {
      out(d) = if (nrm == 0.0) 0.0f else (acc(d) / nrm).toFloat
      d += 1
    }
    out
  }

  def apply(path: String, batchSize: Int = 64): Embedder =
    new BatchedModelEmbedder[Weights](
      name = s"wfile:$path",
      dim = headerDim(path),
      loadModel = () => load(path),
      encodeBatch = (w, texts) => texts.map(encode(w, _)),
      batchSize = batchSize)

  /** The env-var wiring: Some(embedder) when GRAFT_EMBED_WEIGHTS names an
    * artifact, None otherwise (hermetic runs keep [[HashEmbedder]]). */
  def fromEnv(): Option[Embedder] = sys.env.get(EnvVar).map(apply(_))
}
