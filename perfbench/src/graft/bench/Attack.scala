package graft.bench

import graft.attack.Inversion
import graft.store.{EncryptedStore, VectorStore}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** `attack`: the paper's leak-then-invert, closed loop, 1 client. Per seeded
  * target document: point-`get` its embedding from the plaintext collection
  * (the leak), `Inversion.invert` it at default `Params`, and `extractSecure`
  * the same id from the encrypted store (the defence). No index and no
  * decryption is on this path. */
object Attack {
  val SetupReps = 4
  /** Targets every run completes even past the deadline; the traced count
    * statistics cover exactly these, so they repeat at a seed. */
  val MinTargets = 2
  val Key = "0123456789abcdef"

  final class Stores(val dir: String, val plain: VectorStore#Collection,
                     val enc: EncryptedStore)

  def setup(run: Run, dir: String): Stores = {
    val rows = run.embeddedCorpus()
    val plain = new VectorStore(run.spark, s"$dir/collections").createOrGet("docs")
    run.tracer.span("store.collection.add")(plain.add(rows))
    val enc = new EncryptedStore(run.spark, s"$dir/encrypted", Key)
    run.tracer.span("store.encrypted.store")(enc.store(rows, "docs"))
    new Stores(dir, plain, enc)
  }

  final case class Answer(target: Long, leaked: Array[Float], inverted: Seq[Row],
                          extracted: Seq[Row])

  def run(run: Run, stateDir: String): Outcome = {
    val (st, setupMs) = run.setUp(SetupReps)(dir => setup(run, dir))
    // warm, untimed: a short inversion (8 generations, the full hill-climb)
    // compiles the plans and code the timed ones reuse
    run.phase("warmup")
    val probe = Inputs.corpus.head.id.toString
    val warmTarget = st.plain.get(Seq(probe), include = Seq("emb")).collect().head.getSeq[Float](1).toArray
    Inversion.invert(run.spark, warmTarget, Inversion.Params(generations = 8))
      .collect()
    st.enc.extractSecure("docs").filter(col("id") === probe).collect()
    run.phase("timed")
    val targets = run.inputs.attackTargets(256)
    val answers = scala.collection.mutable.ArrayBuffer.empty[Answer]
    val calls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deadline = run.deadline()
    val t0 = System.nanoTime()
    val cpu0 = run.cpuMs()
    var i = 0
    while (i < targets.length && (i < MinTargets || System.nanoTime() < deadline)) {
      val id = targets(i).toString
      run.attempted.incrementAndGet()
      try run.tracer.span("request", i.toLong) {
        val leak = run.tracer.span("store.collection.get")(
          st.plain.get(Seq(id), include = Seq("emb")).collect().toSeq)._1
        val leaked = leak.head.getSeq[Float](1).toArray
        val (inv, invMs) = run.tracer.span("attack.inversion.invert")(
          Inversion.invert(run.spark, leaked).collect().toSeq)
        val ext = run.tracer.span("store.encrypted.extract_secure")(
          st.enc.extractSecure("docs").filter(col("id") === id).collect().toSeq)._1
        answers += Answer(targets(i), leaked, inv, ext)
        calls += invMs
      } catch {
        case e: Throwable =>
          run.fail("request", id, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      i += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = run.cpuMs() - cpu0
    val heap = run.heapAfterGc()
    run.phase("gate")
    val top1 = gate(run, answers.toSeq, stateDir)
    Outcome(setupMs, calls.toSeq, calls.length.toDouble, wall, cpu, heap, top1,
      st.dir, run.userBytes, MinTargets.toLong)
  }

  /** A parseable float vector in the clear: the leak the defence must stop. */
  private val FloatVector = """\[\s*-?[0-9.eE+-]+(\s*,\s*-?[0-9.eE+-]+)*\s*\]""".r

  /** Checks every answer; returns the mean best inversion score of the
    * first MinTargets targets, which every run completes, so the score is
    * fixed for a seed however many targets a run reaches. */
  def gate(run: Run, answers: Seq[Answer], stateDir: String): Double = {
    val hashes = new HashLedger(s"$stateDir/attack-answers.txt")
    answers.foreach { a =>
      val truth = run.truth(a.target.toInt)
      if (!java.util.Arrays.equals(a.leaked, truth))
        run.fail("store.collection.get", a.target.toString, "leaked embedding differs from the document's")

      val inv = a.inverted.map(r => (r.getInt(0), r.getDouble(1), r.getString(2)))
      val invSpan = "attack.inversion.invert"
      // the program's contract (InversionSpec): 1 to topK distinct candidates
      if (inv.isEmpty || inv.length > Inversion.Params().topK)
        run.fail(invSpan, a.target.toString, s"${inv.length} rows, expected 1 to ${Inversion.Params().topK}")
      if (inv.map(_._3).distinct.length != inv.length) run.fail(invSpan, a.target.toString, "duplicate texts")
      if (inv.map(_._1) != (1 to inv.length)) run.fail(invSpan, a.target.toString, "ranks not 1..n")
      if (inv.map(_._2).sliding(2).exists(p => p.length == 2 && p(0) < p(1)))
        run.fail(invSpan, a.target.toString, "scores not descending")
      inv.headOption.foreach { case (_, score, text) =>
        val cos = graft.attack.Inversion.cosine(run.embedder.embedOne(text), truth)
        if (math.abs(cos - score) > 1e-5)
          run.fail(invSpan, a.target.toString, s"top score $score is not the text's cosine $cos")
      }
      hashes.check(s"${run.inputs.seed}:${a.target}", inv.mkString("|")).foreach(why =>
        run.fail(invSpan, a.target.toString, why))

      val extSpan = "store.encrypted.extract_secure"
      if (a.extracted.length != 1) run.fail(extSpan, a.target.toString, s"${a.extracted.length} rows, expected 1")
      a.extracted.foreach { r =>
        val cipher = Seq(1, 2).map(i => new String(r.getAs[Array[Byte]](i), "ISO-8859-1"))
        if (cipher.exists(c => FloatVector.findFirstIn(c).isDefined))
          run.fail(extSpan, a.target.toString, "ciphertext holds a parseable float vector")
        if (cipher.exists(_.contains(Inputs.corpus(a.target.toInt).text)))
          run.fail(extSpan, a.target.toString, "ciphertext holds the document text")
      }
    }
    hashes.save()
    val tops = answers.take(MinTargets).flatMap(_.inverted.headOption.map(_.getDouble(1)))
    if (tops.isEmpty) 0.0 else tops.sum / tops.length
  }
}

/** Answer hashes kept across runs in the checkout's build directory: an
  * answer that should be deterministic must hash the same every time the
  * same seed asks for it. */
final class HashLedger(path: String) {
  private val file = new java.io.File(path)
  private val known: Map[String, String] =
    if (!file.exists()) Map.empty
    else scala.io.Source.fromFile(file, "UTF-8").getLines()
      .map(_.split("\t", 2)).collect { case Array(k, v) => k -> v }.toMap
  private val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Records the hash of `answer` under `key`; a mismatch is returned. */
  def check(key: String, answer: String): Option[String] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val h = md.digest(answer.getBytes("UTF-8")).map("%02x".format(_)).mkString
    seen(key) = h
    known.get(key).filter(_ != h).map(prev => s"answer hash $h differs from an earlier run's $prev")
  }

  def save(): Unit = {
    file.getParentFile.mkdirs()
    val all = known ++ seen
    java.nio.file.Files.write(file.toPath,
      all.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n").getBytes("UTF-8")): Unit
  }
}
