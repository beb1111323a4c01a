package graft

import graft.attack.Inversion
import graft.functions.{BatchedModelEmbedder, Embedder, HashEmbedder, TextFunctions => TF}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A deterministic stand-in for a real model: embeds by per-letter character
  * statistics — nothing like the hash kernel, so consumers provably run
  * through the seam, not a hidden hash path. Static counters observe model
  * loads and batch shapes (local mode = one JVM, so executors share them). */
object StubModel {
  val loads = new java.util.concurrent.atomic.AtomicInteger(0)
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()

  final class Model(val dim: Int)

  def encode(m: Model, texts: Seq[String]): Seq[Array[Float]] = {
    batchSizes.add(texts.length)
    texts.map { t =>
      val v = new Array[Float](m.dim)
      t.toLowerCase.foreach { c =>
        if (c >= 'a' && c <= 'z') v((c - 'a') % m.dim) += 1.0f
      }
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n == 0.0) v else v.map(x => (x / n).toFloat)
    }
  }

  def embedder(dim: Int, batchSize: Int = 16): Embedder = {
    val name = s"stub-$dim"
    new BatchedModelEmbedder[Model](name, dim,
      () => { loads.incrementAndGet(); new Model(dim) },
      encode, batchSize)
  }
}

class EmbedderSpec extends AnyFunSuite with SparkTest {

  test("HashEmbedder through the seam equals the inline hash pipeline") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val viaSeam = Embedder.knnByText(docs, "doc_id", "text", 0, 5, HashEmbedder(64))
      .collect().map(_.toSeq).toSeq
    val inline = {
      val d = docs
        .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"), TF.hashEmbed(col("toks"), 64).as("emb"))
      val probe = d.filter(col("doc_id") === 0).select(col("emb").as("qe"))
      d.crossJoin(broadcast(probe)).filter(col("doc_id") =!= 0)
        .withColumn("cos_raw",
          graft.functions.VectorFunctions.cosine(col("emb"), col("qe")))
        .orderBy(desc("cos_raw"), asc("doc_id")).limit(5)
        .select(col("doc_id"), round(col("cos_raw"), 6).as("cos"))
        .collect().map(_.toSeq).toSeq
    }
    assert(viaSeam == inline)
    // embedOne agrees with the column kernel row for row
    val h = HashEmbedder(64)
    val rows = docs.limit(20)
      .select(col("text"), TF.hashEmbed(TF.tokens(col("text")), 64).as("e")).collect()
    rows.foreach { r =>
      assert(h.embedOne(r.getString(0)).toSeq == r.getSeq[Float](1).toSeq)
    }
  }

  test("stub model embedder runs q_embed_knn's pipeline: batched, loaded once, deterministic") {
    StubModel.loads.set(0)
    StubModel.batchSizes.clear()
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val stub = StubModel.embedder(26, batchSize = 16)
    val r1 = Embedder.knnByText(docs, "doc_id", "text", 0, 5, stub)
      .collect().map(_.toSeq).toSeq
    val r2 = Embedder.knnByText(docs, "doc_id", "text", 0, 5, stub)
      .collect().map(_.toSeq).toSeq
    assert(r1.nonEmpty && r1 == r2, "stub-model kNN must be deterministic")
    // results really came from the stub, not the hash kernel
    val hash = Embedder.knnByText(docs, "doc_id", "text", 0, 5, HashEmbedder(26))
      .collect().map(_.toSeq).toSeq
    assert(r1 != hash, "stub embedding must actually be used")
    // model loaded once per JVM (executor cache), encode saw bounded batches
    assert(StubModel.loads.get() == 1,
      s"model must load once per executor JVM, loaded ${StubModel.loads.get()} times")
    val sizes = StubModel.batchSizes.toArray(Array.empty[Integer]).map(_.intValue)
    assert(sizes.nonEmpty && sizes.forall(s => s >= 1 && s <= 16),
      s"encode batches must respect batchSize: ${sizes.toSeq}")
    assert(sizes.exists(_ > 1), "batching must actually batch")
  }

  test("weights-file embedder: real artifact on disk drives the seam end-to-end") {
    import graft.functions.WeightFileEmbedder
    val path = java.nio.file.Paths.get(graft.store.Scratch.dir("graft_wf"))
      .resolve("model.gftw").toString
    WeightFileEmbedder.write(path, dim = 24, buckets = 97,
      (b, d) => (((b * 31 + d * 7) % 17) - 8) / 8.0f)
    val emb = WeightFileEmbedder(path)
    assert(emb.dim == 24, "dimension must come from the artifact header")
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val r1 = Embedder.knnByText(docs, "doc_id", "text", 0, 5, emb)
      .collect().map(_.toSeq).toSeq
    val r2 = Embedder.knnByText(docs, "doc_id", "text", 0, 5, emb)
      .collect().map(_.toSeq).toSeq
    assert(r1.nonEmpty && r1 == r2, "weights-file kNN must be deterministic")
    val hash = Embedder.knnByText(docs, "doc_id", "text", 0, 5, HashEmbedder(24))
      .collect().map(_.toSeq).toSeq
    assert(r1 != hash, "the learned projection must actually be used")
    // executor (mapPartitions) and driver (embedOne) paths agree row for row
    val texts = docs.limit(10).select(col("text")).collect().map(_.getString(0))
    val viaDf = emb.embed(
        spark.createDataFrame(texts.toSeq.map(Tuple1(_))).toDF("text"), "text", "e")
      .collect().map(_.getSeq[Float](1).toSeq)
    texts.zip(viaDf).foreach { case (t, v) =>
      assert(emb.embedOne(t).toSeq == v, "driver/executor embedding parity")
    }
    viaDf.foreach { v =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(n == 0.0 || math.abs(n - 1.0) < 1e-3, s"not normalized: $n")
    }
    // corrupted artifacts fail loudly, not with garbage embeddings
    val bad = java.nio.file.Paths.get(graft.store.Scratch.dir("graft_wf_bad"))
      .resolve("bad.gftw")
    java.nio.file.Files.write(bad, Array.fill[Byte](40)(3))
    intercept[IllegalArgumentException](WeightFileEmbedder(bad.toString))
  }

  test("GRAFT_EMBED_WEIGHTS wires an external artifact (skipped when unset)") {
    import graft.functions.WeightFileEmbedder
    // a local Boolean keeps ScalaTest's assume macro from rendering the
    // whole sys.env map into the cancel message
    val weightsSet = sys.env.contains(WeightFileEmbedder.EnvVar)
    assume(weightsSet,
      s"${WeightFileEmbedder.EnvVar} not set - hermetic run keeps HashEmbedder")
    val emb = WeightFileEmbedder.fromEnv().get
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val got = Embedder.knnByText(docs, "doc_id", "text", 0, 5, emb).collect()
    assert(got.length == 5, "env-configured model must serve the kNN pipeline")
  }

  test("attack loop runs end-to-end through a stub model embedder") {
    val p = Inversion.Params(popSize = 12, generations = 4, restarts = 2,
      iters = 15, topK = 10, dim = 26, seed = 7L)
    val stub = StubModel.embedder(26)
    val source = "spark query vector table"
    val target = stub.embedOne(source)
    val a = Inversion.invert(spark, target, p, Some(stub)).collect().map(_.toSeq).toSeq
    val b = Inversion.invert(spark, target, p, Some(stub)).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b, "attack through the seam must be bit-reproducible")
    // the attack optimizes the STUB's similarity: best score must be well
    // above a random phrase's (sanity that the loop consumed stub scores)
    val best = a.head(1).asInstanceOf[Double]
    val baseline = Inversion.cosine(stub.embedOne("zzz qqq"), target)
    assert(best > baseline, s"best=$best must beat unoptimized baseline=$baseline")
    assert(best > 0.5, s"four generations should reach decent similarity, got $best")
  }
}
