package graft

import graft.functions.{Onnx, OnnxTransformerEmbedder, TinyBert, WordPiece}
import org.scalatest.funsuite.AnyFunSuite

class OnnxTransformerSpec extends AnyFunSuite with SparkTest {

  private val W = TinyBert.weights(vocabN = 64, maxLen = 32, h = 8, heads = 2, seed = 11)
  private lazy val graph = Onnx.parseModel(TinyBert.model(W))

  private def runModel(ids: Array[Long], mask: Array[Long]): Array[Float] = {
    val n = ids.length
    Onnx.run(graph, Map(
      "input_ids" -> Onnx.Tensor.ofLongs(Array(1, n), ids),
      "attention_mask" -> Onnx.Tensor.ofLongs(Array(1, n), mask),
      "token_type_ids" -> Onnx.Tensor.ofLongs(Array(1, n), new Array[Long](n)))).data
  }

  test("mini BERT block: evaluator matches the independent straight-loop reference") {
    for (seq <- Seq(Array(2L, 17L, 40L, 5L), Array(1L, 1L, 1L),
        Array.tabulate(12)(i => ((i * 7 + 3) % 64).toLong))) {
      val got = runModel(seq, Array.fill(seq.length)(1L))
      val want = TinyBert.reference(W, seq, Array.fill(seq.length)(1L),
        new Array[Long](seq.length))
      assert(got.length == want.length)
      got.zip(want).zipWithIndex.foreach { case ((a, b), i) =>
        assert(math.abs(a - b) < 1e-4f,
          s"hidden[$i] diverges on ${seq.toSeq}: $a vs $b")
      }
    }
  }

  test("attention masking: padded positions are invisible — real positions bit-equal") {
    val real = Array(2L, 17L, 40L)
    val unpadded = runModel(real, Array.fill(3)(1L))
    val padded = runModel(real ++ Array(0L, 0L), Array(1L, 1L, 1L, 0L, 0L))
    // -10000 under the softmax max-subtraction underflows pad attention to
    // exactly 0.0, so the real positions' hidden states are BIT-EQUAL
    val h = 8
    for (i <- 0 until 3; j <- 0 until h)
      assert(padded(i * h + j) == unpadded(i * h + j),
        s"padding leaked into position $i dim $j")
  }

  test("graph declares the BERT input triple; parser surfaces all three") {
    assert(graph.inputNames == Seq("input_ids", "attention_mask", "token_type_ids"))
  }

  test("export-robustness ops: Split (fused QKV), Range, Min/Max, Greater") {
    def micro(build: TinyBert.W => Unit): Onnx.Graph = {
      val w = new TinyBert.W()
      w.msg(7)(build)
      Onnx.parseModel(w.out.toByteArray)
    }
    def lt(name: String, dims: Seq[Int], v: Array[Long])(w: TinyBert.W): Unit = {
      w.msg(5) { t =>
        dims.foreach(d => t.int(1, d.toLong))
        t.int(2, 7L)
        val bb = java.nio.ByteBuffer.allocate(8 * v.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        v.foreach(bb.putLong)
        t.bytes(9, bb.array())
        t.str(8, name)
      }
    }
    // Split along the last axis into 3 equal parts — the fused-QKV shape
    val gSplit = micro { g =>
      g.msg(1) { n =>
        n.str(1, "x"); n.str(2, "q"); n.str(2, "k"); n.str(2, "v")
        n.str(4, "Split")
        n.msg(5) { a => a.str(1, "axis"); a.int(3, 1L); a.int(20, 2L) }
      }
      g.msg(1) { n => n.str(1, "k"); n.str(2, "out"); n.str(4, "Identity") }
      g.msg(11)(b => b.str(1, "x"))
      g.msg(12)(b => b.str(1, "out"))
    }
    val mid = Onnx.run(gSplit, Map("x" ->
      Onnx.Tensor(Array(2, 6), Array.tabulate(12)(_.toFloat))))
    assert(mid.dims.toSeq == Seq(2, 2) &&
      mid.data.toSeq == Seq(2f, 3f, 8f, 9f), "middle third of each row")
    // Range over int64 scalars (position ids), then Min/Max/Greater
    val gRange = micro { g =>
      lt("s", Seq(), Array(0L))(g); lt("d", Seq(), Array(1L))(g)
      g.msg(1) { n =>
        n.str(1, "s"); n.str(1, "limit"); n.str(1, "d")
        n.str(2, "out"); n.str(4, "Range")
      }
      g.msg(11)(b => b.str(1, "limit"))
      g.msg(12)(b => b.str(1, "out"))
    }
    val r = Onnx.run(gRange, Map("limit" -> Onnx.Tensor.ofLongs(Array(), Array(5L))))
    assert(r.longs.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val gMinMax = micro { g =>
      g.msg(1) { n => n.str(1, "a"); n.str(1, "b"); n.str(2, "mn"); n.str(4, "Min") }
      g.msg(1) { n => n.str(1, "a"); n.str(1, "b"); n.str(2, "mx"); n.str(4, "Max") }
      g.msg(1) { n => n.str(1, "mx"); n.str(1, "mn"); n.str(2, "gt"); n.str(4, "Greater") }
      g.msg(1) { n =>
        n.str(1, "gt"); n.str(2, "out"); n.str(4, "Cast")
        n.msg(5) { a => a.str(1, "to"); a.int(3, 1L); a.int(20, 2L) }
      }
      g.msg(11)(b => b.str(1, "a"))
      g.msg(11)(b => b.str(1, "b"))
      g.msg(12)(b => b.str(1, "out"))
    }
    val mm = Onnx.run(gMinMax, Map(
      "a" -> Onnx.Tensor(Array(3), Array(1f, 5f, 3f)),
      "b" -> Onnx.Tensor(Array(3), Array(2f, 4f, 3f))))
    assert(mm.data.toSeq == Seq(1f, 1f, 0f), "max > min except on ties")
  }

  test("attr-less ReduceMean follows the ONNX spec: reduce ALL axes, keepdims=1") {
    // the pre-r9 embedding-bag carve-out silently returned the axis-0 mean
    // [d] here; the shipped writers now emit explicit axes, and the
    // spec-default behavior must hold for real exports
    val w = new TinyBert.W()
    w.msg(7) { g =>
      g.msg(1) { n => n.str(1, "x"); n.str(2, "out"); n.str(4, "ReduceMean") }
      g.msg(11)(v => v.str(1, "x"))
      g.msg(12)(v => v.str(1, "out"))
    }
    val gg = Onnx.parseModel(w.out.toByteArray)
    val out = Onnx.run(gg,
      Map("x" -> Onnx.Tensor(Array(2, 3), Array(1f, 2f, 3f, 4f, 5f, 6f))))
    assert(out.dims.toSeq == Seq(1, 1), s"keepdims=1 reduce-all, got ${out.dims.toSeq}")
    assert(math.abs(out.data(0) - 3.5f) < 1e-6f)
    // and the explicit-attrs token-axis pool (the embedding-bag shape)
    val w2 = new TinyBert.W()
    w2.msg(7) { g =>
      g.msg(1) { n =>
        n.str(1, "x"); n.str(2, "out"); n.str(4, "ReduceMean")
        n.msg(5) { a => a.str(1, "axes"); a.int(8, 0L); a.int(20, 7L) }
        n.msg(5) { a => a.str(1, "keepdims"); a.int(3, 0L); a.int(20, 2L) }
      }
      g.msg(11)(v => v.str(1, "x"))
      g.msg(12)(v => v.str(1, "out"))
    }
    val g2 = Onnx.parseModel(w2.out.toByteArray)
    val out2 = Onnx.run(g2,
      Map("x" -> Onnx.Tensor(Array(2, 3), Array(1f, 2f, 3f, 4f, 5f, 6f))))
    assert(out2.dims.toSeq == Seq(3) && out2.data.toSeq == Seq(2.5f, 3.5f, 4.5f))
  }

  test("transformer embedder: WordPiece ids -> mean-pooled, L2-normalized vector") {
    val vocabTokens = Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]",
      "the", "quick", "brown", "fox", "jump", "##s", "##ed", "over", "lazy", "dog",
      "vector", "stream", "a", "b", "c") ++
      (19 until 64).map(i => s"tok$i")
    val mp = java.nio.file.Files.createTempFile("graft_bert", ".onnx")
    java.nio.file.Files.write(mp, TinyBert.model(W))
    val vp = java.nio.file.Files.createTempFile("graft_vocab", ".txt")
    java.nio.file.Files.write(vp, vocabTokens.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val emb = OnnxTransformerEmbedder(mp.toString, vp.toString, dim = 8)
    val text = "The quick brown fox jumps over the lazy dog"
    val got = emb.embedOne(text)
    // independent replay: tokenize, encode, run reference, pool, normalize
    val wp = WordPiece.fromFile(vp.toString)
    val ids = wp.encode(text)
    assert(ids.head == 2L && ids.last == 3L, "CLS/SEP wrapping")
    assert(ids.toSeq == Seq(2L, 4, 5, 6, 7, 8, 9, 11, 4, 12, 13, 3),
      s"greedy wordpiece ids, got ${ids.toSeq}")
    val hidden = TinyBert.reference(W, ids, Array.fill(ids.length)(1L),
      new Array[Long](ids.length))
    val h = 8
    val acc = new Array[Double](h)
    for (i <- ids.indices; j <- 0 until h) acc(j) += hidden(i * h + j)
    var norm = 0.0
    for (j <- 0 until h) { acc(j) /= ids.length; norm += acc(j) * acc(j) }
    val want = acc.map(x => (x / math.sqrt(norm)).toFloat)
    got.zip(want).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-4f, s"${got.toSeq} vs ${want.toSeq}")
    }
    val n2 = math.sqrt(got.map(x => x.toDouble * x).sum)
    assert(math.abs(n2 - 1.0) < 1e-5, s"not normalized: $n2")
    // executor (mapPartitions) path equals the driver kernel row for row
    import spark.implicits._
    val docs = Seq((1L, text), (2L, "vector stream"), (3L, "")).toDF("id", "text")
    val rows = emb.embed(docs, "text", "e").collect()
    rows.foreach { r =>
      assert(r.getSeq[Float](2).toSeq == emb.embedOne(r.getString(1)).toSeq)
    }
  }

  test("GRAFT_ONNX_ST_MODEL: real MiniLM export encodes end-to-end (skipped when unset)") {
    // a local Boolean keeps ScalaTest's assume macro from rendering the
    // whole sys.env map into the cancel message
    val modelSet = sys.env.contains(OnnxTransformerEmbedder.EnvVar)
    assume(modelSet,
      s"${OnnxTransformerEmbedder.EnvVar} not set - hermetic run uses the generated block")
    val emb = OnnxTransformerEmbedder.fromEnv().get
    val v = emb.embedOne("This is an example sentence")
    assert(v.length == emb.dim)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(n - 1.0) < 1e-3, s"sentence embedding must be normalized: $n")
    assert(v.toSeq == emb.embedOne("This is an example sentence").toSeq,
      "deterministic encode")
    // pinned-vector parity: GRAFT_ONNX_ST_PIN = file of whitespace-separated
    // floats produced by the reference's own pipeline
    // (SentenceTransformer('all-MiniLM-L6-v2').encode(...), embeddings.py:3-6)
    sys.env.get("GRAFT_ONNX_ST_PIN").foreach { p =>
      val want = scala.io.Source.fromFile(p).mkString.trim.split("\\s+").map(_.toFloat)
      assert(want.length == v.length, s"pin has ${want.length} dims, encode ${v.length}")
      v.zip(want).zipWithIndex.foreach { case ((a, b), i) =>
        assert(math.abs(a - b) < 1e-3f, s"dim $i: $a vs pinned $b")
      }
    }
    // real weights order near-synonyms above unrelated phrases
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val cat = emb.embedOne("a small cat")
    assert(cos(cat, emb.embedOne("a little kitten")) >
      cos(cat, emb.embedOne("quarterly financial report")),
      "semantic ranking sanity")
  }
}
