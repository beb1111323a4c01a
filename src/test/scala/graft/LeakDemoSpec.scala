package graft

import graft.attack.Inversion
import graft.store.{EncryptedStore, VectorStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * End-to-end rebuild of the reference's leak demo
 * (/root/reference/src/cod.py:65-175): ingest a small sensitive corpus ->
 * store with embeddings -> full-scan extraction (the leak) -> kNN from a
 * leaked vector recovers the source document -> prompt assembly; and the
 * encrypted store blocks the same attack path. Corpus is our own synthetic
 * stand-in for the reference's PII samples.
 */
class LeakDemoSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val corpus = Seq(
    ("0", "employee id 10452 salary band f quarterly bonus 9200"),
    ("1", "patient record 774 diagnosis code k21 visit date 2024 02 11"),
    ("2", "account 5530 0199 2284 7001 routing 021000021 balance 18250"),
    ("3", "badge 8841 clearance level 3 project codename aurora"))

  private def embedded = corpus.toDF("id", "doc")
    .withColumn("meta", map(lit("source"), lit("demo")))
    .withColumn("emb", graft.functions.TextFunctions.hashEmbed(
      graft.functions.TextFunctions.tokens(col("doc")), 64))

  test("plaintext store leaks: extracted vector -> kNN recovers the document") {
    val base = graft.store.Scratch.dir("leak_demo")
    val store = new VectorStore(spark, base)
    val coll = store.createOrGet("leak_test")
    coll.add(embedded)

    // the leak: full-scan extraction with include-projection (cod.py:102-113)
    val leaked = coll.get(include = Seq("emb")).collect()
    assert(leaked.length == corpus.length, "plaintext store is fully scannable")

    // adversary holds ONLY a leaked vector; kNN recovers the source doc
    val stolen = leaked.find(_.getString(0) == "1").get.getSeq[Float](1).toArray
    val hits = coll.query(stolen, k = 3, metric = "l2").collect()
    assert(hits.head.getString(0) == "1", "nearest neighbor is the source document")
    assert(hits.head.getDouble(2) == 0.0)

    // prompt assembly over the recovered neighbors (cod.py:144-159 / F10)
    val prompt = hits.map(_.getString(1)).mkString("Reconstruct from: ", " | ", "")
    assert(prompt.contains("patient record 774"))

    // and the stolen vector is invertible in principle: the attack improves
    // similarity toward the leaked embedding
    val p = Inversion.Params(popSize = 12, generations = 3, restarts = 1, iters = 10,
      topK = 3, dim = 64, seed = 11L)
    val (_, traj) = Inversion.evolutionarySearch(stolen, p)
    assert(traj.last >= traj.head)
  }

  test("reconstruction stage: kNN -> ordered prompt -> pluggable LLM map (cod.py:141-175)") {
    val corpusDf = embedded.select(col("id"), col("doc"), col("emb"))
    // two leaked vectors: the embeddings of docs 1 and 3
    val probes = embedded.filter(col("id").isin("1", "3"))
      .select(col("id").cast("long").as("probe_id"), col("emb").as("qe"))
    // stub LLM: deterministic echo of the first prompt document — a real
    // client plugs into the same String => String slot
    val out = graft.attack.Reconstruct.reconstruct(corpusDf, probes, k = 2) { prompt =>
      "RECONSTRUCTED: " + prompt.split(": ", 2)(1).split(" \\| ")(0)
    }.collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out.keySet == Set(1L, 3L))
    // the nearest doc (distance 0 = the source itself) leads each prompt,
    // so the stub's reconstruction IS the source document
    assert(out(1L)._2 == "RECONSTRUCTED: " + corpus(1)._2)
    assert(out(3L)._2 == "RECONSTRUCTED: " + corpus(3)._2)
    // prompts contain exactly k docs in ascending-distance order
    assert(out(1L)._1.split(" \\| ").length == 2)
  }

  test("encrypted store blocks the same leak path") {
    val base = graft.store.Scratch.dir("leak_demo_enc")
    val enc = new EncryptedStore(spark, base, "0123456789abcdef")
    enc.store(embedded.select("id", "doc", "emb"), "leak_test_secure")

    // extraction without the key yields ciphertext only: no emb column, and
    // per-row GCM ciphertext carries no usable vector structure
    val ct = enc.extractSecure("leak_test_secure")
    assert(ct.columns.toSeq == Seq("id", "doc_ct", "emb_ct"))
    assert(ct.filter(col("emb_ct").isNull).count() == 0)
    val wrongKey = ct.withColumn("attempt",
      expr("try_aes_decrypt(emb_ct, 'deadbeefdeadbeef', 'GCM')"))
    assert(wrongKey.filter(col("attempt").isNotNull).count() == 0,
      "without the key the extraction is useless")

    // the authorized path still answers the same kNN
    val qe = embedded.filter(col("id") === "1").head().getSeq[Float](3).toArray
    assert(enc.query("leak_test_secure", qe, 1).head().getString(0) == "1")
  }
}
