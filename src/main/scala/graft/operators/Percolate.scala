package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Percolation — REVERSE search (Elasticsearch's percolator, Lucene
 * monitor): a registry of STANDING boolean profiles is matched against
 * every arriving document, instead of one ad-hoc query against a stored
 * corpus. The alerting/routing primitive of every ingest pipeline:
 * "notify subscription X when a doc mentioning all of A,B and any of C,D
 * but none of E arrives."
 *
 * Profile semantics per doc (the [[graft.store.TextIndex.booleanQuery]]
 * clause model, minus ranking — percolation is a match, not a score):
 * every DISTINCT `must` term present, at least one `any` term present
 * when the clause is non-empty, no `must_not` term present, and — when
 * the registry carries a `phrases` column (ARRAY<ARRAY<STRING>>) — every
 * quoted phrase present at CONSECUTIVE positions (the q_phrase
 * occurrence model, run standing). A profile needs at least one positive
 * (must/any/phrase) clause — a pure-negation profile can never fire (no
 * positive term ever joins it to a doc), which is a silently-dead
 * subscription, so registration rejects it loudly.
 *
 * Scale shape (docs N can be 100 TB, profiles P is a registry — thousands):
 * NEVER a doc × profile cross join, and the corpus tokenizes once per
 * stage. Stage 1 (terms): documents explode to DISTINCT (doc, term)
 * pairs; the join key is the TERM, so only doc tokens that appear in some
 * profile clause survive the single join (the inverted-index trick run
 * data-side); ONE (doc, profile) aggregation then decides all clauses at
 * once — must coverage and phrase-TERM coverage by distinct-count,
 * any-match and negation by flag-max — and the profile metadata (clause
 * sizes) broadcasts. Stage 2 (positions) runs ONLY for candidates whose
 * profile has phrases: the positional explode is pruned to candidate
 * DOCS (semi-join) and to phrase TERMS (broadcast slot join), so its
 * volume is df-bounded by the phrases' terms, never the corpus; the
 * (doc, profile, phrase, start) aggregation counts slots exactly like
 * [[graft.store.TextIndex.phraseQuery]]. Stateless per batch, so the
 * streaming twin ([[graft.streaming.StreamOps.percolate]]) is the same
 * function applied per micro-batch (profiles validated ONCE at stream
 * start, not per batch).
 */
object Percolate {

  private val EmptyPhrases = "array<array<string>>"

  /** NULL clause arrays (a registry loaded from parquet with nullable
    * columns) normalize to empty — size(NULL) is NULL, which would slip
    * past [[validate]] AND make the nm comparison never-true: the
    * silently-dead subscription both guards exist to prevent. A registry
    * without a `phrases` column gets an empty one (the pre-phrase
    * registry format). */
  private def nullsafe(profiles: DataFrame): DataFrame = {
    val withPh =
      if (profiles.columns.contains("phrases")) profiles
      else profiles.withColumn("phrases", lit(null).cast(EmptyPhrases))
    withPh.select(col("profile_id"),
      coalesce(col("must"), array()).as("must"),
      coalesce(col("any"), array()).as("any"),
      coalesce(col("must_not"), array()).as("must_not"),
      // INNER nulls normalize too: phrases = [NULL] would slip past the
      // size-0 validation (size(NULL) is NULL) yet flatten() the whole
      // column to NULL in the term stage, making nq = -1 and silently
      // deadening the profile — normalized to [[]], validate rejects it
      transform(coalesce(col("phrases"), array().cast(EmptyPhrases)),
        ph => coalesce(ph, array())).as("phrases"))
  }

  /** Reject profiles with no positive clause, phrases with no terms, a
    * NULL profile_id (no alert pair could ever name that profile), and
    * registries with a duplicated profile_id — two rows sharing an id
    * would MERGE their clause terms in the (doc, profile) aggregation and
    * duplicate the broadcast meta join, yielding wrong or duplicated
    * alert pairs with no error (the stores' requireUniqueKeys discipline,
    * applied here). Registration-time, tiny jobs over the registry (NOT
    * per matched batch). */
  def validate(profiles: DataFrame): Unit = {
    // ONE aggregate job computes every violation flag (was three limit(1)
    // probes + a groupBy count — four driver-blocking registry jobs per
    // match call, ~0.3 s of pure scheduling at any registry size); the
    // refusals fire in the original order with the original messages;
    // NULL ids are counted apart (count(col) and countDistinct both skip
    // NULLs) and refused before duplicates
    val p = nullsafe(profiles)
    val r = p.agg(
      coalesce(sum(when(
        size(col("must")) + size(col("any")) + size(col("phrases")) === 0,
        1L).otherwise(0L)), lit(0L)).as("dead"),
      coalesce(sum(when(exists(col("phrases"), ph => size(ph) === 0),
        1L).otherwise(0L)), lit(0L)).as("empty_ph"),
      count(when(col("profile_id").isNull, 1)).as("null_ids"),
      (count(col("profile_id")) - countDistinct(col("profile_id"))).as("dups")).head()
    require(r.getLong(0) == 0,
      "every profile needs at least one positive (must/any/phrase) clause — " +
        "a pure-negation profile could never fire (a dead subscription)")
    require(r.getLong(1) == 0,
      "a phrase clause needs at least one term")
    require(r.getLong(2) == 0,
      s"profile_id must not be NULL — ${r.getLong(2)} registry row(s) have " +
        "a NULL profile_id, which no alert could ever name")
    require(r.getLong(3) == 0,
      "profile_id must be unique across the registry — duplicate rows " +
        "would merge their clauses into one unintended profile")
  }

  /** Match `docs` (idCol, textCol) against `profiles`
    * (profile_id LONG, must ARRAY<STRING>, any ARRAY<STRING>,
    * must_not ARRAY<STRING>[, phrases ARRAY<ARRAY<STRING>>]).
    * Returns (idCol, profile_id) pairs.
    *
    * Execution is EAGER for a registry with any phrase clause: the corpus
    * term stage runs at call time (`localCheckpoint`, so the positional
    * stage's three references read it once), and only the positional
    * stage stays a lazy plan. The checkpointed blocks live in executor
    * storage and are NOT recomputed if an executor holding them is lost —
    * the query then fails and must be re-issued. A registry with no
    * phrase clause returns a fully lazy plan. */
  def matches(docs: DataFrame, profiles: DataFrame,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    validate(profiles)
    matchesValidated(docs, profiles, idCol, textCol)
  }

  /** [[matches]] without the registry re-validation — the streaming twin
    * validates once at stream start and calls this per micro-batch. Same
    * execution semantics as [[matches]]: a phrase registry runs the corpus
    * term stage eagerly at call time (`localCheckpoint`), and that stage
    * is not recomputed if an executor holding it is lost. */
  private[graft] def matchesValidated(docs: DataFrame, rawProfiles: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val profiles = nullsafe(rawProfiles)
    val tf = graft.functions.TextFunctions
    val docTerms = docs
      .select(col(idCol), explode(array_distinct(tf.tokens(col(textCol)))).as("term"))
    // one unified clause-terms frame: kind 'm' rows count toward the
    // all-musts requirement, 'a' toward the any-match bit, 'x' toward the
    // negation bit, 'q' toward phrase-TERM coverage (a necessary
    // condition that prunes the positional stage) — ONE term join + ONE
    // (doc, profile) aggregation decides the whole term stage, and the
    // corpus-side frame is read once. Clause arrays dedupe BEFORE the
    // size/count comparison: a duplicated must term must not demand two
    // distinct matches (the oracle's list_has_all semantics).
    val posTerms = profiles
      .select(col("profile_id"),
        explode(array_distinct(col("must"))).as("term"), lit("m").as("kind"))
      .unionByName(profiles.select(col("profile_id"),
        explode(array_distinct(col("any"))).as("term"), lit("a").as("kind")))
      .unionByName(profiles.select(col("profile_id"),
        explode(array_distinct(col("must_not"))).as("term"), lit("x").as("kind")))
      .unionByName(profiles.select(col("profile_id"),
        explode(array_distinct(flatten(col("phrases")))).as("term"),
        lit("q").as("kind")))
    val meta = profiles.select(col("profile_id"),
      size(array_distinct(col("must"))).as("nm"), size(col("any")).as("na"),
      size(array_distinct(flatten(col("phrases")))).as("nq"),
      size(col("phrases")).as("np"))
    val stage1Plan = docTerms.join(broadcast(posTerms), Seq("term"))
      .groupBy(col(idCol), col("profile_id"))
      .agg(
        countDistinct(when(col("kind") === "m", col("term"))).as("mh"),
        max(when(col("kind") === "a", 1).otherwise(0)).as("ah"),
        max(when(col("kind") === "x", 1).otherwise(0)).as("xh"),
        countDistinct(when(col("kind") === "q", col("term"))).as("qh"))
      .join(broadcast(meta), Seq("profile_id"))
      .filter(col("mh") === col("nm") &&
        (col("na") === 0 || col("ah") === 1) && col("xh") === 0 &&
        col("qh") === col("nq"))
      .select(col(idCol), col("profile_id"), col("np"))
    // a registry with NO phrase clauses needs no positional stage at all —
    // short-circuit BEFORE the union wires it in. For a LOCAL-relation
    // registry the optimizer already proves the positional branch empty
    // (posexplode of all-empty phrase arrays → PropagateEmptyRelation
    // prunes the union), but a registry loaded from storage gives the
    // planner no such proof, and the lazy verified branch would reference
    // the stage-1 plan three more times (candidate-doc semi-join,
    // occurrence semi-join, final join) — the corpus term stage paid up to
    // 4x for provably-empty branches. One registry-scale probe job decides
    // (the registry is P rows — a driver-broadcast relation, never the
    // corpus).
    if (profiles.filter(size(col("phrases")) > 0).limit(1).isEmpty)
      return stage1Plan.select(col(idCol), col("profile_id"))
    // phrase registries: the term stage feeds BOTH the no-phrase answers
    // and three positional-stage references — materialize it once. The
    // checkpointed volume is the term-qualified candidate pairs (the
    // percolator's alert volume plus phrase-pending candidates), bounded
    // by matches, never corpus x profiles.
    val stage1 = stage1Plan.localCheckpoint()
    val noPhrase = stage1.filter(col("np") === 0)
      .select(col(idCol), col("profile_id"))
    val needPhrase = stage1.filter(col("np") > 0)
      .select(col(idCol), col("profile_id"), col("np"))
    // positional verify, candidates only: slot frame (profile, phrase,
    // slot j, term) broadcasts; the positional doc explode is pruned to
    // candidate docs AND phrase terms, so its volume is bounded by the
    // phrase terms' df over the candidates — the q_phrase occurrence
    // model ((doc, start) groups covering all |phrase| slots), extended
    // by the profile/phrase keys
    val slots = profiles
      .select(col("profile_id"),
        posexplode(col("phrases")).as(Seq("phrase_idx", "ph")))
      .select(col("profile_id"), col("phrase_idx"), size(col("ph")).as("plen"),
        posexplode(col("ph")).as(Seq("j", "term")))
    val candDocs = needPhrase.select(col(idCol)).distinct()
    val docPos = docs.join(candDocs, Seq(idCol), "left_semi")
      .select(col(idCol), posexplode(tf.tokens(col(textCol))).as(Seq("pos", "term")))
    val occurred = docPos.join(broadcast(slots), Seq("term"))
      .join(needPhrase.select(col(idCol), col("profile_id")),
        Seq(idCol, "profile_id"), "left_semi")
      .select(col(idCol), col("profile_id"), col("phrase_idx"), col("plen"),
        (col("pos") - col("j")).as("start"), col("j"))
      .groupBy(col(idCol), col("profile_id"), col("phrase_idx"), col("plen"),
        col("start"))
      .agg(countDistinct(col("j")).as("hits"))
      .filter(col("hits") === col("plen"))
      .select(col(idCol), col("profile_id"), col("phrase_idx")).distinct()
    val verified = occurred
      .groupBy(col(idCol), col("profile_id"))
      .agg(count(lit(1)).as("pf"))
      .join(needPhrase, Seq(idCol, "profile_id"))
      .filter(col("pf") === col("np"))
      .select(col(idCol), col("profile_id"))
    noPhrase.unionByName(verified)
  }

  // ------------------------------------------------ semantic percolation

  /** Sliding-window chunk frame, hash-embedded: `window`-token chunks at
    * stride `stride` per document (the q_chunk_overlap geometry), each a
    * unit-norm `dim`-wide embedding — ONE narrow per-row codegen pass,
    * shared by the RAG pipelines and [[semanticMatches]]. A document
    * shorter than one stride still yields chunk 0 (possibly token-less —
    * the zero vector, cosine −1.0 sentinel). */
  def chunkEmbed(docs: DataFrame, window: Int, stride: Int, dim: Int,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // fail at the API boundary: stride <= 0 would reach Spark's
    // sequence(step) as an opaque runtime error (or a degenerate
    // single-chunk frame), window <= 0 would hash-embed every chunk to
    // the zero vector — both misconfigurations, neither should get a job
    require(window >= 1, s"chunk window must be at least 1 token, got $window")
    require(stride >= 1, s"chunk stride must be at least 1 token, got $stride")
    val tf = graft.functions.TextFunctions
    docs
      .select(col(idCol).as("doc_id"), tf.tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"),
        posexplode(sequence(lit(0), greatest(col("n") - 1, lit(0)),
          lit(stride))).as(Seq("chunk_id", "strt")),
        col("toks"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        tf.hashEmbed(slice(col("toks"), col("strt") + 1, lit(window)),
          dim).as("emb"))
  }

  /** Reject semantic registries that could never alert or would merge
    * alerts: a zero-norm standing vector scores the cosine −1.0 sentinel
    * against EVERY chunk (a dead subscription unless θ ≤ −1, which is a
    * fire-on-everything misconfiguration either way), and duplicated
    * profile_ids would merge two subscriptions' alerts into one id.
    * Registration-time, tiny jobs over the registry. */
  def validateSemantic(profiles: DataFrame): Unit = {
    val vf = graft.functions.VectorFunctions
    require(profiles
      .filter(vf.norm(col("pe")) <= 0).limit(1).isEmpty,
      "every standing vector needs a non-zero norm — a zero vector's " +
        "cosine is the -1.0 sentinel against every chunk (a dead subscription)")
    require(profiles
      .filter(col("theta") > 1.0 || col("theta") <= -1.0).limit(1).isEmpty,
      "theta must sit in (-1, 1]: above 1 can never fire, at or below -1 " +
        "fires on every chunk including the zero-vector sentinel")
    require(profiles
      .groupBy(col("profile_id")).count().filter(col("count") > 1)
      .limit(1).isEmpty,
      "profile_id must be unique across the registry")
  }

  /** SEMANTIC percolation — [[matches]] lifted to embedding space: a
    * registry of STANDING query vectors (profile_id, pe ARRAY<FLOAT>,
    * theta DOUBLE) alerts on every document one of whose chunks lands
    * within cosine ≥ θ of the standing vector — "notify subscription X
    * when something ABOUT X arrives", catching paraphrases that share no
    * boolean term. Returns (profile_id, doc_id, score = max chunk
    * cosine ≥ θ, n_hits = matching chunk count).
    *
    * Scale shape (docs N can be 100 TB, profiles P is a registry): the
    * corpus chunks+embeds ONCE per batch ([[chunkEmbed]], narrow
    * codegen), the registry BROADCASTS, and the θ filter runs inside the
    * scoring stage BEFORE the (profile, doc) aggregation — the shuffle
    * carries only above-threshold alerts, never corpus × profiles.
    * Stateless per batch, so the streaming twin
    * ([[graft.streaming.StreamOps.semanticPercolate]]) is this function
    * per micro-batch — stream ≡ batch by construction, spec-pinned. */
  def semanticMatches(docs: DataFrame, profiles: DataFrame,
                      window: Int, stride: Int, dim: Int,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    validateSemantic(profiles)
    semanticMatchesValidated(docs, profiles, window, stride, dim, idCol, textCol)
  }

  /** [[semanticMatches]] without the registry re-validation — the
    * streaming twin validates once at stream start. */
  private[graft] def semanticMatchesValidated(docs: DataFrame, profiles: DataFrame,
      window: Int, stride: Int, dim: Int,
      idCol: String, textCol: String): DataFrame = {
    val vf = graft.functions.VectorFunctions
    chunkEmbed(docs, window, stride, dim, idCol, textCol)
      .crossJoin(broadcast(profiles.select("profile_id", "pe", "theta")))
      .select(col("profile_id"), col("doc_id"),
        vf.cosine(col("emb"), col("pe")).as("cos"), col("theta"))
      .filter(col("cos") >= col("theta"))
      .groupBy("profile_id", "doc_id")
      .agg(max(col("cos")).as("score"), count(lit(1)).as("n_hits"))
  }
}
