package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SketchExpressions.{charRollingHash, minhashSig, simhash32, wordNgramHashes}
import graft.functions.TextFeatures._

/** Deduplication suite over the `documents` table — the operators a
  * large-scale training-data pipeline runs before anything else.
  *
  * The driver's documents are all-distinct, so each query first builds a
  * deterministic corpus with planted duplicates (identical in Spark and
  * the DuckDB oracle): exact copies of every 7th doc and tail-truncated
  * near-copies of every 10th doc.
  *
  * Scale design (100 TB):
  *  - Exact dedup: hash groupBy on the text (one shuffle on the dedup key;
  *    at scale, on xxhash64(text) to keep shuffle rows narrow).
  *  - n-gram Jaccard: inverted-index candidate join (explode shingles →
  *    self-join per shingle) with a document-frequency cap that drops
  *    stop-shingles — the classic bound that keeps per-shingle groups
  *    small; NEVER an all-pairs crossJoin.
  *  - MinHash+LSH: 64 portable min-hashes → 32 bands × 2 rows → band-key
  *    groupBy join → exact-Jaccard verification of the (few) candidates.
  *    Verification makes the output the exact ≥-threshold pair set as long
  *    as banding has no false negatives (P(miss | j≥0.7) ≈ 4e-10).
  *  - SimHash: 32-bit fingerprints, 4×8-bit band join; by pigeonhole a
  *    hamming-≤3 pair always agrees on ≥1 byte, so the band join is
  *    EXACT for distance ≤ 3 — verification just computes the distance.
  * All hashing is engine-portable integer arithmetic (TextFeatures), so
  * the DuckDB oracle reproduces signatures bit-for-bit.
  */
object DedupQueries {
  import Q._

  private val JaccardT = "0.7"

  /** DF cap for the inverted-index candidate join: shingles appearing in
    * more docs than this are stop-shingles and generate no candidates
    * (a shingle at df d yields d·(d-1)/2 pair rows — the cap bounds the
    * blowup). A true ≥0.7-Jaccard pair shares dozens of doc-specific
    * shingles, so dropping common ones costs no recall in practice (the
    * oracle mirrors the cap; the MinHash query's exact-set oracle
    * cross-checks overall recall).
    */
  private val MaxDF = 10

  /** Corpus with planted dups: originals ∪ exact copies (doc_id%7==0,
    * +2000000) ∪ 2-word-truncated near-copies (doc_id%10==0, +1000000).
    */
  def corpus(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
    val exact = docs
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val near = docs
      .filter(col("doc_id") % 10 === 0)
      .select(
        (col("doc_id") + 1000000L).as("doc_id"),
        expr(
          "array_join(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 2, 1)), ' ')"
        ).as("text")
      )
    docs.unionAll(exact).unionAll(near)
  }

  /** DuckDB mirror of [[corpus]]. */
  val corpusCte: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |         array_to_string(ws[1:greatest(len(ws) - 2, 1)], ' ') AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE doc_id % 10 = 0
      |)""".stripMargin

  /** doc_id + word-hash array: each word char-hashed ONCE (native
    * codegen `charRollingHash`); shingle features derive NUMERICALLY
    * from word hashes — the hot path allocates no shingle strings and
    * char-hashes each word once instead of ~3× inside concatenated
    * shingle strings.
    */
  private def wordHashes(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), transform(col("ws"), w => charRollingHash(w)).as("wh"))

  /** doc_id + distinct hashed 3-gram shingle set: Jaccard arithmetic runs
    * on 8-byte longs — light shuffles, cheap intersections. Distinct-ed
    * AFTER hashing so any hash collision gives identical set semantics in
    * Spark and the (mirrored) oracle.
    */
  private[graft] def hashedSets(s: SparkSession, dir: String): DataFrame =
    hashedSetsOf(s, corpus(s, dir))

  /** [[hashedSets]] over an arbitrary (doc_id, text) frame — the
    * incremental-dedup query needs the SAME feature pipeline on its
    * corpus and batch sides separately. */
  private def hashedSetsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    docs
      // r14 OPTIMIZATION: the word-hash transform + let-bound n-gram
      // fold lambdas (CodegenFallback higher-order builtins — they
      // dropped this projection out of whole-stage codegen and paid a
      // slice allocation + n boxed fold calls per window) are fused
      // into the native wordNgramHashes expression: two flat codegen
      // loops, bit-equal by NgramHashSpec. The old form's array(wh)
      // let-binding guard is obsolete — the word hashes live in a local
      // array inside ONE expression, so CollapseProject can no longer
      // re-hash words per window.
      .select(
        col("doc_id"),
        array_distinct(wordNgramHashes(split(col("text"), " "), 3)).as("hs")
      )
      // Explicit one-pass materialization of the feature frame. This
      // frame has FOUR consumers (the df aggregate, the rare-posting
      // join, both verification sides), and nothing implicit shares the
      // work (r4 profiling, 8-12 s → ~2 s):
      //  - ReuseExchange can't: each consumer pushes different join-key
      //    isnotnull filters into the scans, so the four subtrees stop
      //    being canonically identical and each re-runs shingle+hash.
      //  - A repartition-after-features can't: Catalyst hoists the
      //    deterministic feature projection above the exchange (the
      //    shuffle only needs doc_id), leaving raw text in the shuffle.
      // The repartition ALSO fixes parallelism — this source scans as
      // 1-3 splits, and the checkpoint executes the feature projection
      // on the post-shuffle side, so it runs on every core. At 100 TB
      // the same move is "materialize the derived feature table once
      // before fanning out" (checkpoint, cache, or an intermediate
      // write) — recomputing a corpus-wide feature pass per consumer is
      // the thing you never do.
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .localCheckpoint()
  }

  /** DuckDB mirror of [[wordHashes]]/[[hashedSets]] (appended to
    * [[corpusCte]]); `ex`/`sz` operate on the hashed sets.
    */
  private val shingleCte: String =
    s""", tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus)
       |, whs AS (SELECT doc_id, [${charHashDuck("w")} for w in ws] AS wh FROM tok)
       |, hsl AS MATERIALIZED (SELECT doc_id, list_distinct(${hashedNgramsDuck("wh", 3)}) AS hs FROM whs)
       |, ex AS (SELECT doc_id, unnest(hs) AS s FROM hsl)
       |, sz AS (SELECT doc_id, len(hs) AS n FROM hsl)""".stripMargin

  /** Exact ≥-[[JaccardT]] pair replay via AllPairs PREFIX FILTERING
    * (Bayardo et al. WWW'07; Xiao et al. PPJoin) — the r14 re-plan of
    * the shared sigma-df2 mirror spine (VERDICT r13 #1). Appended after
    * [[shingleCte]]; emits `inter`(doc_a, doc_b, i) and
    * `pairs`(doc_a, doc_b).
    *
    * Lossless by the prefix-filter lemma: J(A,B) ≥ t ⟹ |A∩B| ≥
    * ⌈t·max(|A|,|B|)⌉, and under ONE global token order two sets whose
    * (n − ⌈t·n⌉ + 1)-prefixes are disjoint share fewer than ⌈t·n⌉ ≤
    * ⌈t·max⌉ tokens — so every qualifying pair meets in the
    * prefix-postings join. The global order is (df, token) ASCENDING:
    * each prefix holds the doc's RAREST tokens, so prefix postings have
    * small df and the candidate join stays near output-sized instead of
    * the full Σdf² posting self-join that made this family
    * timeout-class at sf10. The floor form n − ⌊7n/10⌋ + 1 ≥
    * n − ⌈0.7n⌉ + 1 keeps each prefix a superset of the required one
    * (≤ 1 extra token — still lossless); the two-sided size filter
    * (min·10 ≥ max·7 ⟸ i ≤ min ∧ i ≥ 0.7·max) prunes for free. The 7/10
    * integers are [[JaccardT]] = 0.7 exactly — a threshold change must
    * update both. Candidate intersections come from ONE
    * `list_intersect` over the two (distinct) hs lists — identical
    * integer i, never a posting re-join. `pfx` is MATERIALIZED: it is
    * self-joined, and an inlined CTE would re-run the corpus-wide
    * window once per side (the r12 ENOSPC lesson).
    */
  private val prefixPairCtes: String =
    s""", dfc AS (SELECT s, count(*) AS c FROM ex GROUP BY s)
       |, pfx AS MATERIALIZED (
       |  SELECT doc_id, s, n FROM (
       |    SELECT ex.doc_id, ex.s, sz.n,
       |           row_number() OVER (PARTITION BY ex.doc_id ORDER BY dfc.c, ex.s) AS r
       |    FROM ex JOIN dfc ON ex.s = dfc.s JOIN sz ON ex.doc_id = sz.doc_id)
       |  WHERE r <= n - (7 * n) // 10 + 1)
       |, cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pfx a JOIN pfx b ON a.s = b.s AND a.doc_id < b.doc_id
       |  WHERE a.n * 10 >= b.n * 7 AND b.n * 10 >= a.n * 7)
       |, inter AS (
       |  SELECT c.doc_a, c.doc_b, len(list_intersect(ha.hs, hb.hs)) AS i
       |  FROM cand c JOIN hsl ha ON c.doc_a = ha.doc_id
       |              JOIN hsl hb ON c.doc_b = hb.doc_id)
       |, pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sz sa ON doc_a = sa.doc_id
       |  JOIN sz sb ON doc_b = sb.doc_id
       |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $JaccardT)""".stripMargin

  /** DF-capped inverted-index candidate pairs from a (doc_id, hs) shingle
    * frame. The DF cap must bound memory BEFORE any posting list is
    * collected (VERDICT r5 ask #2: a size filter AFTER collect_list
    * still materializes a stop-shingle's full posting list in the agg
    * buffer — bounded at every tested SF, unbounded in principle at
    * 100 TB). Rounds 5–13 bought that bound with a df-count PRE-pass +
    * rare-set semi-join + collect_list — two full walks of the exploded
    * postings. Round 14 fuses the cap into ONE bounded pass through the
    * GroupedTopK operator (see the inline comment below): per-key state
    * is ≤ MaxDF+1 heap rows at every stage, so the 100 TB guarantee is
    * unchanged while the df pass and the semi-join disappear from the
    * plan. The ≤C(MaxDF,2)=45 pairs per kept shingle expand inline in
    * codegen; pair structs are order-independent (a < b), so
    * collect_list's nondeterministic order never shows. Semantics (and
    * the oracle) unchanged: candidacy df-capped, Jaccard from FULL
    * sets, threshold on the raw double.
    */
  private[graft] def ngramCandidates(sets: DataFrame): DataFrame = {
    val ex = sets.select(col("doc_id"), explode(col("hs")).as("s"))
    // r14 OPTIMIZATION (guide §2.3/§2.4 — aggregate before the shuffle,
    // remove a pass): the df-count PRE-pass + rare-set semi-join + full
    // collect_list used to walk the exploded postings TWICE (one count
    // aggregate + exchange, one semi-join, one collect aggregate). The
    // GroupedTopK operator fuses all three into ONE bounded pass: per
    // shingle keep the (MaxDF+1) smallest doc_ids — partial heaps are
    // ≤ MaxDF+1 rows per key per task (the same never-materialize-a-
    // stop-shingle-posting-list guarantee the pre-pass bought, VERDICT
    // r5 #2), the exchange carries at most (MaxDF+1)·tasks rows per key,
    // and the final pass leaves the frame hash-partitioned on s so the
    // collect_list aggregate below needs NO further exchange. A group
    // retaining MaxDF+1 rows has true df > MaxDF and is dropped — the
    // exact rare-shingle set of the old pre-pass (`hs` is distinct per
    // doc, so per-key doc_ids are unique and min(df, MaxDF+1) rows come
    // back); a group with ≤ MaxDF rows is complete. Candidate-pair
    // semantics, and the oracle, are byte-identical. Measured at sf0.1:
    // d_ngram_jaccard_pairs ~7.5 s → ~4.9 s exec, plan loses one
    // corpus-wide explode subtree, one Exchange and the semi-join
    // (plans/r14/d_ngram_jaccard_pairs_{before,after}.txt).
    graft.plans.GroupedTopK
      .topK(ex, Seq("s"), Seq(col("doc_id").asc), MaxDF + 1)
      .groupBy(col("s"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) <= MaxDF)
      .select(
        explode(
          expr("flatten(transform(ds, a -> transform(filter(ds, b -> a < b), b -> struct(a AS doc_a, b AS doc_b))))")
        ).as("p")
      )
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** Exact-Jaccard verification of a candidate-pair frame (doc_a, doc_b):
    * join back the hashed shingle sets, keep pairs ≥ threshold. Candidates
    * are few, so the array intersect/union runs on a tiny frame.
    */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame): DataFrame =
    verifyJaccard2(cand, sets, sets)

  /** [[verifyJaccard]] with distinct frames for the `doc_a` (probe) and
    * `doc_b` (index) sides — incremental dedup verifies batch-vs-corpus
    * candidates where the two sides are different tables. */
  private def verifyJaccard2(cand: DataFrame, setsA: DataFrame, setsB: DataFrame): DataFrame = {
    val a = setsA.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val b = setsB.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    // r14 OPTIMIZATION (guide §3.1 — pick the strategy and BUILD SIDE
    // deliberately): hint-free, the planner broadcast the full shingle-
    // set frame (~55 MB of hs arrays at sf0.1) as the second join's
    // build side — a single-threaded driver collect + HashedRelation
    // build + ship, per invocation, to attach arrays to a few thousand
    // candidate rows. SHUFFLE_HASH on the CANDIDATE side builds the
    // hash table from the small output-bounded pair frame in parallel
    // and streams the set frame through it; at 100 TB this is also the
    // only shape that works — the set frame side is corpus-sized and
    // could never broadcast (the r12-measured build-smaller-side rule
    // in .claude/skills/verify).
    cand.hint("shuffle_hash")
      .join(a, "doc_a")
      .hint("shuffle_hash")
      .join(b, "doc_b")
      .withColumn("i", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn(
        "jac_raw",
        col("i").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("i")).cast("double")
      )
      // threshold on the RAW value (as the oracle does), round for output
      .filter(col("jac_raw") >= JaccardT)
      .select(col("doc_a"), col("doc_b"), round(col("jac_raw"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB: the exact ≥-threshold near-dup pair set (ground truth the
    * LSH path must reproduce): inverted-index intersection counts —
    * pairs at this threshold necessarily share a shingle.
    */
  private val exactPairsSql: String =
    s"""$corpusCte
       |$shingleCte
       |$prefixPairCtes
       |SELECT doc_a, doc_b,
       |       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
       |FROM inter
       |JOIN sz sa ON doc_a = sa.doc_id
       |JOIN sz sb ON doc_b = sb.doc_id
       |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $JaccardT
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The MinHash→LSH-band→exact-verify pair set (shared by
    * `d_minhash_lsh_pairs` and the cluster resolution).
    */
  /** (doc_id, band, bkey) LSH band keys of a hashed-set frame — the
    * persisted index a production incremental dedup maintains; extracted
    * so `d_incremental_dedup` can band its corpus and batch sides
    * separately. */
  private[graft] def bandKeysOf(sets: DataFrame): DataFrame =
    sets
      .withColumn("sig", minhashSig(col("hs")))
      .select(
        col("doc_id"),
        explode(
          expr(
            s"transform(sequence(0, ${NumBands - 1}), b -> struct(b AS band, element_at(sig, 2*b+1) * $P + element_at(sig, 2*b+2) AS bkey))"
          )
        ).as("bk")
      )
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))

  private def lshVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val sets = hashedSets(s, dir)
    val bands = bandKeysOf(sets)
    val cand = bands
      .select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(
        bands.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
        Seq("band", "bkey")
      )
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    verifyJaccard(cand, sets)
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC '14 — public algorithm) — the web-scale replacement
    * for min-label propagation (VERDICT r12 #4; the propagation loop is
    * kept as the test reference `DedupReference.labelPropagate`). Identical
    * (id, rep) output contract (every node incident to an edge, rep =
    * component min, the min node mapping to itself; isolated nodes not
    * emitted), but rounds are O(log² n) on ANY graph shape, where
    * min-label propagation needs DIAMETER rounds — a duplicate corpus
    * with one pathological chain (serial-numbered boilerplate, paginated
    * near-copies) would drive the old loop to thousands of shuffle
    * rounds at 100 TB while this loop closes it in ~a dozen.
    * StarContractSpec proves both properties on a planted 4096-node path
    * (diameter 4095, ≤ 16 alternations) and equality with
    * the propagation reference on the real LSH pair graph.
    *
    * Output contract: (id, rep) labels for every node incident to at
    * least one NON-self-loop edge. Input self-loops are dropped at
    * canonicalization, so a node appearing ONLY in self-loop edges is
    * not emitted — label propagation would emit it with rep = itself
    * (ADVICE r13 drift note). Both current call sites build edges from
    * verified pairs with doc_a < doc_b, so that input class is
    * unreachable here; a future caller feeding raw (possibly-reflexive)
    * edges must pre-union the isolated self-loop nodes itself.
    *
    * Edge state is kept child→parent (c > p after canonicalization;
    * both operators preserve it, so self-loops never arise):
    *  - LARGE-STAR per node u: every strictly larger neighbor re-links
    *    to m(u) = min(Γ(u) ∪ u) — one symmetric groupBy + join;
    *  - SMALL-STAR per node c over its parent set P: c links to
    *    min(P), every other parent re-links to min(P) — one groupBy +
    *    join on the directed edges.
    * Each alternation is two join+groupBy rounds on the (shrinking)
    * edge set with `localCheckpoint` lineage cuts; convergence is the
    * EXACT star-forest test (no node both child and parent — one
    * semi-join per alternation; see the inline proof that a star forest
    * is a fixpoint of both operators), so the loop stops the moment the
    * forest forms instead of paying a detection alternation. Bounded by
    * MaxStarRounds as a backstop; the paper's bound makes hitting it a
    * bug, not an input property.
    */
  private[graft] val MaxStarRounds = 64

  private[graft] def starContract(edges: DataFrame): DataFrame =
    starContractRounds(edges)._1

  private[graft] def starContractRounds(edges: DataFrame): (DataFrame, Int) = {
    // canonicalize: child = larger endpoint, parent = smaller; drop
    // self-loops and duplicate edges
    var e = edges
      .filter(col("a") =!= col("b"))
      .select(
        greatest(col("a"), col("b")).as("c"),
        least(col("a"), col("b")).as("p"))
      .distinct()
      .localCheckpoint()

    // r14 OPTIMIZATION + exactness upgrade: convergence = "e IS a star
    // forest", tested directly with one semi-join on the (checkpointed,
    // shrinking) edge set — in a star forest no node is both child and
    // parent, and a star forest is an EXACT fixpoint of both operators:
    // large-star maps every child of root r to m(child's only neighbor
    // set {r} ∪ child) = r and emits nothing from the child side
    // (no neighbor is larger), so eL = e; small-star then re-links each
    // child to its (single, already-minimal) parent, so e' = e. The old
    // loop detected the fixpoint probabilistically (count + mod-reduced
    // xxhash64 sum unchanged ACROSS one alternation), which (a) paid one
    // full wasted alternation — two join+groupBy+distinct checkpoints —
    // just to observe "nothing changed", and (b) needed the ADVICE-r13
    // exact postcondition as a collision backstop. The direct test costs
    // one tiny job per alternation (same as the checksum did), saves the
    // detection alternation, and is exact — the postcondition IS the
    // loop condition now. Measured: ~0.4-1.0 s off each of
    // d_dup_clusters / d_quality_keeper / d_leakage_safe_split at
    // sf0.1/local[32].
    def isStarForest(df: DataFrame): Boolean =
      df.join(df.select(col("c").as("p")), Seq("p"), "left_semi").isEmpty

    var rounds = 0
    var converged = isStarForest(e)
    while (!converged && rounds < MaxStarRounds) {
      // LARGE-STAR: symmetric neighborhoods; larger neighbors → m(u)
      val adj = e.select(col("c").as("u"), col("p").as("v"))
        .unionAll(e.select(col("p").as("u"), col("c").as("v")))
      val mins = adj.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("m"))
      val eL = adj.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("c"), col("m").as("p"))
        .distinct()
        .localCheckpoint() // two consumers below (mp groupBy + the join)
      // SMALL-STAR: per child, parents re-link to the min parent
      val mp = eL.groupBy(col("c").as("c0")).agg(min(col("p")).as("m"))
      e = eL.join(mp, eL("c") === mp("c0"))
        .select(
          when(col("p") === col("m"), col("c")).otherwise(col("p")).as("c"),
          col("m").as("p"))
        .distinct()
        .localCheckpoint()
      converged = isStarForest(e)
      rounds += 1
    }
    // The loop condition IS the exact star-forest postcondition (ADVICE
    // r13 asked for exactly this guarantee as a separate check; r14 made
    // it the termination test), so reaching here non-converged means the
    // MaxStarRounds backstop fired.
    require(converged,
      s"star contraction did not converge in $MaxStarRounds alternations — " +
        "algorithmically impossible for a sane edge set; investigate the input")
    // converged: e is a star forest (v, root). Labels = children ∪ roots.
    val labels = e.select(col("c").as("id"), col("p").as("rep"))
      .unionAll(e.select(col("p").as("id"), col("p").as("rep")).distinct())
      .distinct()
    (labels, rounds)
  }

  // ------------------------------------------------------------------
  // Persisted dedup index store (VERDICT r11 #1): the same stored-index
  // discipline the ANN tier has (EmbeddingQueries.ivfIndexTables /
  // ensureIncAppended), for the operator a 100 TB pipeline runs FIRST
  // and DAILY. d_incremental_dedup rebuilds its corpus-side artifacts
  // inline every run — O(corpus) per batch; here the corpus artifacts
  // are built ONCE into warehouse tables and every probe/append after
  // that is O(batch):
  //   graft_dix_doc_<tag>  — (dp | doc_id, d1, d2, hs): per-doc exact
  //     digest PAIR + hashed 3-gram shingle set, partitioned on
  //     dp = doc_id % 64 (bounded dirs; dp leads the verify join key so
  //     clustered candidate sets can prune, and bucketing-by-doc_id is
  //     the point-lookup refinement at 100 TB). A probe reads only the
  //     narrow d1/d2 columns for the exact semi-join and only
  //     (doc_id, hs) — streamed through a broadcast-hash join, never
  //     shuffled — for candidate verification (both plan-verified).
  //   graft_dix_band_<tag> — (bp | doc_id, band, bkey): exploded MinHash
  //     band-key postings, partitioned on the band-key prefix
  //     bp = bkey % 64 (bounded dirs, one file per prefix at write; a
  //     probe joins on (bp, band, bkey) so the store side arrives
  //     co-located and prunable).
  // Digests are engine-portable: d1 = charRollingHash(text),
  // d2 = charRollingHash(reverse(text)) — the PAIR has ~P² ≈ 1e18 key
  // space, so digest-pair equality IS text equality at any corpus scale
  // that fits a cluster (expected collisions at sf10 ≈ 6e-8), while the
  // DuckDB oracle replays the identical arithmetic bit-for-bit. This is
  // the move the d_incremental_dedup scaladoc promised ("at 100 TB the
  // exact semi-join runs on the persisted digest column"): the probe
  // never touches corpus TEXT at all.
  // ------------------------------------------------------------------

  /** Incremental-dedup plant, corpus side: docs with doc_id % 5 != 0. */
  private[graft] def incBase(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 5 =!= 0)

  /** Incremental-dedup plant, batch side: docs with doc_id % 5 == 0
    * ∪ exact copies of every 7th corpus doc (+3000000) ∪ 2-word-truncated
    * near copies of every 11th corpus doc (+4000000) ∪ exact copies of
    * every 13th raw batch doc (+5000000).
    */
  private[graft] def incBatch(s: SparkSession, dir: String): DataFrame = {
    // The plant's +3000000/+4000000/+5000000 id offsets assume corpus
    // ids stay below 3,000,000 (holds through ~sf100); past that, batch
    // membership predicates (engine AND oracle) would silently
    // misclassify docs. Fail LOUDLY instead of latently (ADVICE r12):
    // a corpus id at/over the offset raises at scan time. One codegen'd
    // comparison per row — doc_id is consumed anyway, so the guard
    // cannot be pruned.
    val guardedId = when(col("doc_id") < 3000000L, col("doc_id"))
      .otherwise(raise_error(concat(
        lit("incremental-dedup plant: corpus doc_id "),
        col("doc_id").cast("string"),
        lit(" >= 3000000 breaks the plant's id-offset scheme — re-derive the offsets"))).cast("long"))
    val docs = table(s, dir, "documents").select(guardedId.as("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val batchRaw = docs.filter(col("doc_id") % 5 === 0)
    val trunc =
      expr("array_join(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 2, 1)), ' ')")
    batchRaw
      .unionAll(
        base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      .unionAll(
        base.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"), trunc.as("text")))
      .unionAll(
        batchRaw.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
  }

  /** Partition fan-out of the store tables: 64 dirs each — bounded
    * directory count, and at bench SF one file per partition. At 100 TB
    * the same prefixes simply hold more files; the probe-side join and
    * DPP shapes are unchanged.
    */
  private[graft] val DixParts = 64

  /** Every table prefix of the dedup-index store family: base (dix),
    * append deltas (dxd), compaction clone + audit (dxc), streaming-
    * ingest deltas + marker (dsi). A base rebuild or an orphan sweep
    * (corpus tag changed) must drop ALL of them — a derived table
    * surviving its base is stale reuse (ADVICE r12).
    */
  private[graft] val DixPrefixes = Seq(
    "graft_dix_doc_", "graft_dix_band_",
    "graft_dxd_doc_", "graft_dxd_band_",
    "graft_dxc_doc_", "graft_dxc_band_", "graft_dxc_audit_",
    "graft_dsi_doc_", "graft_dsi_band_", "graft_dsi_done_")

  /** (doc_id, d1, d2, hs) index features of a (doc_id, text) frame in ONE
    * text scan: the exact digest pair + the hashed 3-gram shingle set
    * (same fused wordNgramHashes pipeline as [[hashedSetsOf]]; see
    * that scaladoc for the r14 codegen fusion and for why the checkpoint
    * materializes the features before multi-consumer fan-out).
    */
  private[graft] def docFeaturesOf(s: SparkSession, docs: DataFrame): DataFrame = {
    docs
      .withColumn("d1", charRollingHash(col("text")))
      .withColumn("d2", charRollingHash(reverse(col("text"))))
      .select(
        col("doc_id"), col("d1"), col("d2"),
        array_distinct(wordNgramHashes(split(col("text"), " "), 3)).as("hs"))
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .localCheckpoint()
  }

  /** Builds (or reuses) the persisted corpus-side dedup index for this
    * corpus fingerprint; returns (docTable, bandTable). `rebuild = true`
    * also drops the append DELTA tables — a rebuilt base invalidates a
    * previous append's ingest-once marker.
    */
  private[graft] def dedupIndexTables(
      s: SparkSession, dir: String, rebuild: Boolean): (String, String) = {
    val tag = OperatorQueries.sourceTag(s, s"$dir/documents.parquet")
    val docT = s"graft_dix_doc_$tag"
    val bandT = s"graft_dix_band_$tag"
    if (rebuild || !s.catalog.tableExists(docT) || !s.catalog.tableExists(bandT)) {
      // orphan sweep: a regenerated corpus changes the tag — drop any
      // same-prefix table from a previous tag before writing this one
      s.catalog.listTables().collect()
        .map(_.name)
        .filter(n => DixPrefixes.exists(p => n.startsWith(p) && n != s"$p$tag"))
        .foreach(OperatorQueries.dropManagedTable(s, _))
      DixPrefixes.map(p => s"$p$tag")
        .foreach(OperatorQueries.dropManagedTable(s, _))
      val feats = docFeaturesOf(s, incBase(s, dir))
      feats
        .withColumn("dp", pmod(col("doc_id"), lit(DixParts.toLong)).cast("int"))
        .repartition(col("dp"))
        .write.mode("overwrite").partitionBy("dp").saveAsTable(docT)
      bandKeysOf(feats.select(col("doc_id"), col("hs")))
        .withColumn("bp", pmod(col("bkey"), lit(DixParts.toLong)).cast("int"))
        .repartition(col("bp"))
        .write.mode("overwrite").partitionBy("bp").saveAsTable(bandT)
    }
    (docT, bandT)
  }

  /** Test hook: drop the whole dedup index store (base + delta) for this
    * corpus, forcing the next [[dedupIndexTables]] call to rebuild.
    */
  private[graft] def dropDixStore(s: SparkSession, dir: String): Unit = {
    val tag = OperatorQueries.sourceTag(s, s"$dir/documents.parquet")
    DixPrefixes.foreach(p => OperatorQueries.dropManagedTable(s, s"$p$tag"))
  }

  /** Per-doc incremental-dedup verdicts answered OFF THE STORE — no
    * corpus-side artifact is recomputed from raw text: exact-vs-corpus
    * is a digest-pair semi-join against the store's narrow d1/d2
    * columns; near-vs-corpus probes the persisted band postings on
    * (bp, band, bkey) and verifies candidates against the store's
    * shingle sets (streamed, never shuffled); within-batch logic is
    * identical to d_incremental_dedup's (batch-only work). The only
    * reads of documents.parquet are the PLANT's — [[incBatch]]
    * synthesizes the incoming batch from planted copies of corpus docs;
    * a real deployment's batch arrives as its own table. Cost:
    * O(|batch|) feature pass + O(|batch|·bands) probe rows +
    * O(candidates) verification.
    */
  private def probeVerdicts(
      s: SparkSession, dir: String, docT: String, bandT: String): DataFrame =
    probeVerdictsOf(s, incBatch(s, dir), s.table(docT), s.table(bandT))

  /** [[probeVerdicts]] over an ARBITRARY (doc_id, text) batch frame and
    * store frames — the daily-ingest entry point: the registered query
    * probes the synthesized plant batch against the base tables, and a
    * streaming ingest (`StreamIngestSpec`) probes each micro-batch
    * against base ∪ delta-so-far through the same code path.
    * `storeDocs` needs (dp, doc_id, d1, d2, hs); `storeBands`
    * (bp, band, bkey, doc_id).
    */
  private[graft] def probeVerdictsOf(
      s: SparkSession, batch: DataFrame,
      storeDocs: DataFrame, storeBands: DataFrame): DataFrame =
    probeVerdictsWith(s, batch, docFeaturesOf(s, batch), storeDocs, storeBands)

  /** [[probeVerdictsOf]] with the batch's feature frame precomputed —
    * callers that also need the features (the append path keeps the
    * 'new' docs' features; the streaming ingest appends them to its
    * delta) pass the ONE checkpointed [[docFeaturesOf]] frame here
    * instead of paying the batch text scan + hashing twice.
    */
  private[graft] def probeVerdictsWith(
      s: SparkSession, batch: DataFrame, bf: DataFrame,
      storeDocs: DataFrame, storeBands: DataFrame): DataFrame = {
    val setsBatch = bf.select(col("doc_id"), col("hs"))

    // exact vs corpus: digest-pair semi-join (reads only d1/d2 columns)
    val exactBC = bf
      .join(storeDocs.select(col("d1"), col("d2")), Seq("d1", "d2"), "left_semi")
      .select(col("doc_id"))
      .distinct()
      .withColumn("f_exact_bc", lit(1))

    // near vs corpus: batch band keys probe the persisted postings.
    // r14: checkpointed — three consumers (store probe + both sides of
    // the within-batch self-join) each re-ran the 64-perm minhash over
    // the batch otherwise (same multi-consumer lesson as hashedSets).
    val bandsBatch = bandKeysOf(setsBatch).localCheckpoint()
    val candBC = bandsBatch
      .withColumn("bp", pmod(col("bkey"), lit(DixParts.toLong)).cast("int"))
      .select(col("bp"), col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(
        storeBands
          .select(col("bp"), col("band"), col("bkey"), col("doc_id").as("doc_b")),
        Seq("bp", "band", "bkey"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // verify on store shingle sets. The broadcast hint is load-bearing:
    // candidates are tiny (band-join survivors), so the corpus-sized
    // store STREAMS through a broadcast-hash join — it is never
    // shuffled, never sorted, and only its (doc_id, hs) columns are read
    // (plan-verified ReadSchema). dp rides as a leading join key: on a
    // probe whose candidates cluster into few partitions (the daily
    // steady state — most batches share little with the corpus) a
    // runtime-pruning engine can skip dp dirs, and bucketing the store
    // by doc_id is the designated point-lookup refinement at 100 TB.
    // (Spark's DPP rule does not fire here — the candidate side has no
    // statically-selective predicate, and uniform mod-64 candidates
    // would touch every partition anyway — so the claim is co-location,
    // not partition elimination.)
    val storeSets = storeDocs
      .select(col("dp"), col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    val aSets = setsBatch.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val nearBC = broadcast(
      candBC
        .withColumn("dp", pmod(col("doc_b"), lit(DixParts.toLong)).cast("int"))
        .join(aSets, "doc_a"))
      .join(storeSets, Seq("dp", "doc_b"))
      .withColumn("i", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn(
        "jac_raw",
        col("i").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("i")).cast("double"))
      .filter(col("jac_raw") >= JaccardT)
      .select(col("doc_a").as("doc_id"))
      .distinct()
      .withColumn("f_near_bc", lit(1))

    // within-batch: identical to d_incremental_dedup (earlier doc wins)
    val keeperBB = batch
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keeper"))
    val exactBB = batch
      .join(keeperBB, "text")
      .filter(col("doc_id") > col("keeper"))
      .select(col("doc_id"))
    val candBB = bandsBatch
      .select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(
        bandsBatch.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val nearBB = verifyJaccard2(candBB, setsBatch, setsBatch)
      .select(col("doc_b").as("doc_id"))
    val dupBB = exactBB.unionAll(nearBB).distinct().withColumn("f_dup_bb", lit(1))

    batch
      .select(col("doc_id"))
      .join(exactBC, Seq("doc_id"), "left")
      .join(nearBC, Seq("doc_id"), "left")
      .join(dupBB, Seq("doc_id"), "left")
      .withColumn(
        "verdict",
        when(col("f_exact_bc").isNotNull, "exact_dup_corpus")
          .when(col("f_near_bc").isNotNull, "near_dup_corpus")
          .when(col("f_dup_bb").isNotNull, "dup_in_batch")
          .otherwise("new"))
      .select(col("doc_id"), col("verdict"))
  }

  /** Ensures the deduped batch is ingested ONCE into append DELTA tables
    * (graft_dxd_*) alongside the immutable base store — the production
    * layout: a daily append writes O(batch) delta files and NEVER
    * rewrites (or even copies) the corpus-sized base; the serving index
    * is base ∪ delta. Appended docs are exactly the batch docs whose
    * probe verdict is 'new' (every dup's representative is already
    * reachable in the store). Ingest-once marker: the delta DOC table is
    * written LAST, so its existence proves a completed append (the ANN
    * tier's ensureReseedApplied ordering trick).
    */
  private[graft] def ensureDedupAppended(
      s: SparkSession, dir: String): (String, String, String, String) = {
    val (docT, bandT) = dedupIndexTables(s, dir, rebuild = false)
    val tag = OperatorQueries.sourceTag(s, s"$dir/documents.parquet")
    val dDocT = s"graft_dxd_doc_$tag"
    val dBandT = s"graft_dxd_band_$tag"
    if (!s.catalog.tableExists(dDocT)) {
      OperatorQueries.dropManagedTable(s, dDocT)
      OperatorQueries.dropManagedTable(s, dBandT)
      // ONE feature pass shared by the verdict probe and the kept-doc
      // projection (the probe-internal frame was recomputed here before
      // — a second full batch scan+hash per cold append)
      val batch = incBatch(s, dir)
      val bf = docFeaturesOf(s, batch)
      val newIds = probeVerdictsWith(s, batch, bf, s.table(docT), s.table(bandT))
        .filter(col("verdict") === "new")
        .select(col("doc_id"))
      val keep = bf
        .join(newIds, Seq("doc_id"), "left_semi")
        .localCheckpoint()
      bandKeysOf(keep.select(col("doc_id"), col("hs")))
        .withColumn("bp", pmod(col("bkey"), lit(DixParts.toLong)).cast("int"))
        .repartition(col("bp"))
        .write.mode("overwrite").partitionBy("bp").saveAsTable(dBandT)
      keep
        .withColumn("dp", pmod(col("doc_id"), lit(DixParts.toLong)).cast("int"))
        .repartition(col("dp"))
        .write.mode("overwrite").partitionBy("dp").saveAsTable(dDocT)
    }
    (docT, bandT, dDocT, dBandT)
  }

  /** Delta-compaction trigger: fold the append deltas into the base
    * partitions once delta/base row ratio reaches this (e6 fixed-point
    * so the oracle replays the decision in integer arithmetic). 1% —
    * deltas are probed as a unioned second table on every read, so the
    * read-amplification they add is bounded by this ratio.
    */
  private[graft] val CompactRatioE6 = 10000L

  /** Serving clone of the base store for compaction (graft_dxc_*): the
    * compaction rewrites ONLY the delta-touched partitions IN PLACE via
    * dynamic partition overwrite; it clones the base first so the
    * sibling registered queries' ingest-once markers (which hash off the
    * ORIGINAL base/delta tables) stay valid within one Verify/Bench
    * session — the same serving-clone discipline as the ANN tier's
    * ensureReseedApplied. A production deployment would overwrite the
    * base partitions directly and retire the deltas; the insertInto
    * mechanics are identical.
    */
  private[graft] def cloneCompactTables(
      s: SparkSession, dir: String): (String, String) = {
    val tag = OperatorQueries.sourceTag(s, s"$dir/documents.parquet")
    val (docT, bandT, _, _) = ensureDedupAppended(s, dir)
    val cDocT = s"graft_dxc_doc_$tag"
    val cBandT = s"graft_dxc_band_$tag"
    Seq(cDocT, cBandT).foreach(OperatorQueries.dropManagedTable(s, _))
    s.table(docT)
      .repartition(col("dp"))
      .write.mode("overwrite").partitionBy("dp").saveAsTable(cDocT)
    s.table(bandT)
      .repartition(col("bp"))
      .write.mode("overwrite").partitionBy("bp").saveAsTable(cBandT)
    (cDocT, cBandT)
  }

  /** Folds the append deltas into the (cloned) base store partitions —
    * VERDICT r12 #3, the dedup twin of the ANN tier's reseed-apply
    * maintenance loop. Only partitions that actually hold delta rows
    * are rewritten (dynamic partition overwrite; every other dp/bp dir
    * is untouched byte-for-byte — DedupIndexSpec asserts it); each
    * rewritten partition is base-rows ∪ delta-rows, so the folded store
    * is file-count-minimal again and probes stop paying the base∪delta
    * union. Returns the 1-row compaction audit: fold decision inputs
    * (row counts, ratio), partitions rewritten, and the post-fold
    * serving-index checksums the DuckDB mirror replays from raw text.
    */
  private[graft] def foldDeltasInto(
      s: SparkSession, cDocT: String, cBandT: String,
      dDocT: String, dBandT: String): DataFrame = {
    val nBase = s.table(cDocT).count()
    val nDelta = s.table(dDocT).count()
    val ratioE6 = if (nBase == 0) Long.MaxValue else nDelta * 1000000L / nBase
    val doFold = ratioE6 >= CompactRatioE6
    val (docParts, bandParts) =
      if (!doFold) (0L, 0L)
      else {
        val touchedDoc = s.table(dDocT).select(col("dp")).distinct()
        val touchedBand = s.table(dBandT).select(col("bp")).distinct()
        val nDocParts = touchedDoc.count()
        val nBandParts = touchedBand.count()
        // merged touched partitions, materialized BEFORE the overwrite
        // (the write targets the table the plan reads from)
        val mergedDoc = s.table(cDocT)
          .join(touchedDoc, Seq("dp"), "left_semi")
          .unionByName(s.table(dDocT))
          .select(col("doc_id"), col("d1"), col("d2"), col("hs"), col("dp"))
          .repartition(col("dp"))
          .localCheckpoint()
        val mergedBand = s.table(cBandT)
          .join(touchedBand, Seq("bp"), "left_semi")
          .unionByName(s.table(dBandT))
          .select(col("doc_id"), col("band"), col("bkey"), col("bp"))
          .repartition(col("bp"))
          .localCheckpoint()
        val prevMode = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try {
          mergedDoc.write.mode("overwrite").insertInto(cDocT)
          mergedBand.write.mode("overwrite").insertInto(cBandT)
        } finally prevMode match {
          case Some(m) => s.conf.set("spark.sql.sources.partitionOverwriteMode", m)
          case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        (nDocParts, nBandParts)
      }
    // post-fold serving audit, read back from the PERSISTED compacted
    // tables (same arithmetic as d_index_build/append — a fold bug
    // cannot hide behind in-flight frames)
    val docAgg = s.table(cDocT).agg(
      count(lit(1)).as("n_docs_total"),
      count_distinct(col("d1") * lit(P) + col("d2")).as("n_distinct_digests"),
      sum((col("doc_id") % 1009L) * (col("d1") % 1000003L)).as("digest_checksum"),
      sum(expr("aggregate(hs, CAST(0 AS BIGINT), (a, x) -> a + x % 1000003)"))
        .as("shingle_checksum"))
    val bandAgg = s.table(cBandT).agg(
      count(lit(1)).as("n_band_rows"),
      sum((col("doc_id") % 101L) * (col("bkey") % 1000003L)).as("band_checksum"))
    docAgg
      .crossJoin(broadcast(bandAgg))
      .select(
        lit(nBase).as("n_base"),
        lit(nDelta).as("n_delta_folded"),
        lit(ratioE6).as("delta_ratio_e6"),
        lit(docParts).as("doc_parts_rewritten"),
        lit(bandParts).as("band_parts_rewritten"),
        col("n_docs_total"), col("n_distinct_digests"),
        col("digest_checksum"), col("shingle_checksum"),
        col("n_band_rows"), col("band_checksum"))
  }

  /** Ensures the compaction ran ONCE for this corpus; the persisted
    * 1-row audit table (written LAST — the completion marker, same
    * ordering trick as ensureDedupAppended) is the query result.
    */
  private[graft] def ensureDedupCompacted(s: SparkSession, dir: String): String = {
    val tag = OperatorQueries.sourceTag(s, s"$dir/documents.parquet")
    val audT = s"graft_dxc_audit_$tag"
    if (!s.catalog.tableExists(audT)) {
      OperatorQueries.dropManagedTable(s, audT)
      val (_, _, dDocT, dBandT) = ensureDedupAppended(s, dir)
      val (cDocT, cBandT) = cloneCompactTables(s, dir)
      foldDeltasInto(s, cDocT, cBandT, dDocT, dBandT)
        .coalesce(1)
        .write.mode("overwrite").saveAsTable(audT)
    }
    audT
  }

  val queries: Map[String, Fn] = Map(
    // Exact dedup, counts: one hash agg over the corpus.
    "d_exact_dedup_counts" -> ((s, dir) =>
      corpus(s, dir).agg(
        count(lit(1)).as("rows_in"),
        count_distinct(col("text")).as("rows_out"),
        (count(lit(1)) - count_distinct(col("text"))).as("dedup_removed")
      )),

    // Exact dedup with a deterministic survivor (min doc_id per text):
    // the duplicate groups, one row each. groupBy(text) = one shuffle on
    // the dedup key; only group stats leave the shuffle.
    "d_exact_dedup_groups" -> ((s, dir) =>
      corpus(s, dir)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .select(col("keeper"), col("n_copies"))
        .orderBy(col("keeper"))),

    // n-gram Jaccard near-dup, candidate-then-verify (VERDICT r3 #7 —
    // the previous single-join form computed intersections through a
    // FULL posting self-join, Σ_s df(s)² rows, 12 s at sf0.1; this form
    // is the same shape as the 2 s MinHash path):
    //  1. candidates = pairs sharing ≥1 RARE shingle (df ≤ MaxDF). Only
    //     the df-capped postings self-join, so the fan-out is bounded by
    //     Σ_{df≤10} df² — the stop-shingle quadratic blowup never
    //     happens. Both sides shuffle the same subplan on the same key;
    //     the exchange is planned once and reused.
    //  2. exact verification joins the hashed SETS back onto the (few)
    //     candidate pairs: array_intersect per pair gives the same i as
    //     the oracle's full-posting intersection count, because the sets
    //     are distinct-ed. Arrays cross a join only for candidate pairs —
    //     output-bounded, never corpus-bounded.
    // Semantics (and the oracle) are unchanged: candidacy is df-capped,
    // Jaccard comes from FULL sets, threshold on the raw double.
    "d_ngram_jaccard_pairs" -> ((s, dir) => {
      val sets = hashedSets(s, dir)
      verifyJaccard(ngramCandidates(sets), sets)
    }),

    // ASYMMETRIC containment near-dup (news-wire reprints, quoted
    // passages, prefix copies): C(A⊂B) = |S_A ∩ S_B| / |S_A| flags "A is
    // mostly inside B" pairs whose symmetric Jaccard is far below any
    // sane threshold. Plant: every 11th doc gains a 20-word-prefix copy
    // (+3000000, the t_span_dedup plant) — Jaccard vs the original is
    // ~18/n (sub-threshold, invisible to d_ngram_jaccard_pairs), but
    // containment(copy ⊂ original) = 1.0. Candidates ride the SAME
    // df-capped inverted index as the Jaccard path (rare-shingle
    // semi-join, never all-pairs); verification joins the full sets and
    // keeps pairs with max-direction containment ≥ 0.9, in e6 integer
    // arithmetic (i·1e6 div |S|) so the oracle is bit-exact. Output
    // orients each pair contained→container (tie → doc_a, i.e. exact
    // dups keep the smaller id as contained).
    "d_containment_pairs" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs
        .filter(col("doc_id") % 11 === 0)
        .select(
          (col("doc_id") + 3000000L).as("doc_id"),
          expr("array_join(slice(split(text, ' '), 1, 20), ' ')").as("text")
        )
      val sets = hashedSetsOf(s, docs.unionAll(planted))
      val a = sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
      val b = sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
      // candidate side hinted as the SHJ build side — same §3.1 move as
      // verifyJaccard2 (see that comment): never broadcast/build the
      // corpus-sized set frame to attach arrays to output-bounded pairs
      ngramCandidates(sets).hint("shuffle_hash")
        .join(a, "doc_a")
        .hint("shuffle_hash")
        .join(b, "doc_b")
        .withColumn("i", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
        .withColumn("na", size(col("hs_a")).cast("long"))
        .withColumn("nb", size(col("hs_b")).cast("long"))
        .withColumn("c_ab_e6", expr("(i * 1000000) div na"))
        .withColumn("c_ba_e6", expr("(i * 1000000) div nb"))
        .filter(col("c_ab_e6") >= 900000 || col("c_ba_e6") >= 900000)
        .select(
          expr("CASE WHEN c_ab_e6 >= c_ba_e6 THEN doc_a ELSE doc_b END").as("contained_id"),
          expr("CASE WHEN c_ab_e6 >= c_ba_e6 THEN doc_b ELSE doc_a END").as("container_id"),
          col("i").as("n_shared"),
          greatest(col("c_ab_e6"), col("c_ba_e6")).as("containment_e6"),
          expr("(i * 1000000) div (na + nb - i)").as("jaccard_e6")
        )
        .orderBy(col("contained_id"), col("container_id"))
    }),

    // MinHash + LSH banding near-dup: signatures → band join → verify.
    "d_minhash_lsh_pairs" -> ((s, dir) => lshVerifiedPairs(s, dir)),

    // INCREMENTAL dedup — the operation a daily ingest actually runs at
    // 100 TB: dedup the incoming BATCH against the existing CORPUS (and
    // within itself) without re-deduplicating the corpus. Plant: corpus =
    // docs with doc_id%5 != 0; batch = docs with doc_id%5 == 0 ∪ exact
    // copies of every 7th corpus doc (+3000000) ∪ 2-word-truncated near
    // copies of every 11th corpus doc (+4000000) ∪ exact copies of every
    // 13th raw batch doc (+5000000). Verdict per batch doc, precedence
    // exact_dup_corpus > near_dup_corpus > dup_in_batch (earlier batch
    // doc wins) > new; output = (verdict, n_docs, id_checksum) — O(1)
    // rows at any scale.
    //
    // Scale shape: every corpus-side artifact here (text for the exact
    // semi-join, minhash band keys for the near probe) is the persisted
    // DEDUP INDEX a production pipeline maintains — in this query it is
    // computed inline (there is no cross-run state), but each is built
    // in ONE pass and only ever joined on narrow keys. The batch side
    // pays O(|batch|·bands) probe rows against the band index and an
    // exact-Jaccard verify of only the candidates; the corpus text is
    // never self-joined and nothing quadratic in the corpus exists. At
    // 100 TB the exact semi-join runs on the persisted xxhash128 digest
    // column instead of raw text; here text equality keeps the DuckDB
    // oracle byte-exact.
    "d_incremental_dedup" -> ((s, dir) => {
      val base = incBase(s, dir)
      val batch = incBatch(s, dir)

      // exact vs corpus: semi-join against the corpus text index
      val exactBC = batch
        .join(base.select(col("text")), Seq("text"), "left_semi")
        .select(col("doc_id"))
        .distinct()
        .withColumn("f_exact_bc", lit(1))

      // near vs corpus: batch band keys probe the corpus band index;
      // exact-Jaccard verify of the (few) candidates on the full sets
      val setsBase = hashedSetsOf(s, base)
      val setsBatch = hashedSetsOf(s, batch)
      // r14: the batch band-key frame has THREE consumers (corpus probe +
      // both sides of the within-batch self-join) and each recomputed the
      // 64-permutation minhashSig over every batch shingle set (the
      // hashedSets multi-consumer lesson, one level up). One checkpoint
      // of the narrow (doc_id, band, bkey) frame pins it.
      val bandsBatch = bandKeysOf(setsBatch).localCheckpoint()
      val candBC = bandsBatch
        .select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
        .join(
          bandKeysOf(setsBase).select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
          Seq("band", "bkey"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
      val nearBC = verifyJaccard2(candBC, setsBatch, setsBase)
        .select(col("doc_a").as("doc_id"))
        .distinct()
        .withColumn("f_near_bc", lit(1))

      // within-batch: earlier doc wins. Exact via min-keeper per text;
      // near via the batch band self-join (later doc of a verified pair)
      val keeperBB = batch
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper"))
      val exactBB = batch
        .join(keeperBB, "text")
        .filter(col("doc_id") > col("keeper"))
        .select(col("doc_id"))
      val candBB = bandsBatch
        .select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
        .join(
          bandsBatch.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
          Seq("band", "bkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
      val nearBB = verifyJaccard2(candBB, setsBatch, setsBatch)
        .select(col("doc_b").as("doc_id"))
      val dupBB = exactBB.unionAll(nearBB).distinct().withColumn("f_dup_bb", lit(1))

      batch
        .select(col("doc_id"))
        .join(exactBC, Seq("doc_id"), "left")
        .join(nearBC, Seq("doc_id"), "left")
        .join(dupBB, Seq("doc_id"), "left")
        .withColumn(
          "verdict",
          when(col("f_exact_bc").isNotNull, "exact_dup_corpus")
            .when(col("f_near_bc").isNotNull, "near_dup_corpus")
            .when(col("f_dup_bb").isNotNull, "dup_in_batch")
            .otherwise("new"))
        .groupBy(col("verdict"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
        .orderBy(col("verdict"))
    }),

    // DEDUP INDEX BUILD (VERDICT r11 #1) — persist the corpus-side dedup
    // index once: digest-pair + shingle-set doc table (dp-partitioned)
    // and MinHash band-key postings (band-key-prefix-partitioned); see
    // the section scaladoc above [[incBase]]. Output is the build AUDIT
    // read back from the PERSISTED tables (not the in-flight frames —
    // a write-path bug cannot hide): row counts, digest cardinality, and
    // doc-bound checksums over digests / shingles / band keys. The
    // DuckDB mirror replays the identical digest + minhash arithmetic
    // from the raw corpus. Scale: one corpus feature pass + two
    // partitioned writes; the audit is two scans of the store.
    "d_index_build" -> ((s, dir) => {
      val (docT, bandT) = dedupIndexTables(s, dir, rebuild = true)
      val docAgg = s.table(docT).agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("d1") * lit(P) + col("d2")).as("n_distinct_digests"),
        sum((col("doc_id") % 1009L) * (col("d1") % 1000003L)).as("digest_checksum"),
        sum(expr("aggregate(hs, CAST(0 AS BIGINT), (a, x) -> a + x % 1000003)"))
          .as("shingle_checksum"))
      val bandAgg = s.table(bandT).agg(
        count(lit(1)).as("n_band_rows"),
        count_distinct(col("bp")).as("n_partitions"),
        sum((col("doc_id") % 101L) * (col("bkey") % 1000003L)).as("band_checksum"))
      docAgg
        .crossJoin(broadcast(bandAgg))
        .select(
          col("n_docs"), col("n_distinct_digests"), col("digest_checksum"),
          col("shingle_checksum"), col("n_band_rows"), col("n_partitions"),
          col("band_checksum"))
    }),

    // DEDUP INDEX PROBE — d_incremental_dedup's verdicts answered OFF
    // THE PERSISTED STORE (build-on-miss keeps the query self-contained;
    // in steady state the store is warm and this is the daily-ingest
    // cost): O(batch) feature pass, digest-pair semi-join on the store's
    // narrow d1/d2 columns, band probe, candidate verification streaming
    // the store's (doc_id, hs) through a broadcast-hash join — no
    // corpus-side artifact is recomputed from raw text, and no probe
    // step shuffles the corpus (the only documents.parquet reads are the
    // PLANT's batch synthesis; see probeVerdicts). Same output contract
    // as d_incremental_dedup; DedupIndexSpec asserts probe ≡ inline
    // verdicts and that the base store's files are byte-identical after
    // a probe. Measured batch-scaling at sf10 (warm store, 16 cores,
    // the batch shrunk against the fixed corpus): 14 s at the full 201k-doc batch → 7.7 s at 1/8 → 5.6 s at
    // 1/40, converging on the ~5 s narrow index-READ floor — while the
    // inline query re-pays the ~21 s corpus feature pass at any batch
    // size (BASELINE.md round 12).
    "d_index_probe" -> ((s, dir) => {
      val (docT, bandT) = dedupIndexTables(s, dir, rebuild = false)
      probeVerdicts(s, dir, docT, bandT)
        .groupBy(col("verdict"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
        .orderBy(col("verdict"))
    }),

    // DEDUP INDEX APPEND — ingest the deduped batch (verdict = 'new')
    // ONCE into O(batch) DELTA tables next to the immutable base store
    // (the serving index is base ∪ delta; the corpus-sized base is never
    // rewritten or copied — DedupIndexSpec asserts its files stay
    // byte-identical and that a re-run appends nothing). Output is the
    // post-append serving-index audit read back from base ∪ delta, plus
    // the appended-row count; the mirror recomputes the verdicts and
    // replays the audit arithmetic over base ∪ new-docs from scratch.
    "d_index_append" -> ((s, dir) => {
      val (docT, bandT, dDocT, dBandT) = ensureDedupAppended(s, dir)
      val cols = Seq("doc_id", "d1", "d2", "hs").map(col)
      val docs = s.table(docT).select(cols: _*)
        .unionAll(s.table(dDocT).select(cols: _*))
      val bands = s.table(bandT).select(col("doc_id"), col("bkey"))
        .unionAll(s.table(dBandT).select(col("doc_id"), col("bkey")))
      val docAgg = docs.agg(
        count(lit(1)).as("n_docs_total"),
        count_distinct(col("d1") * lit(P) + col("d2")).as("n_distinct_digests"),
        sum((col("doc_id") % 1009L) * (col("d1") % 1000003L)).as("digest_checksum"),
        sum(expr("aggregate(hs, CAST(0 AS BIGINT), (a, x) -> a + x % 1000003)"))
          .as("shingle_checksum"))
      val bandAgg = bands.agg(
        count(lit(1)).as("n_band_rows"),
        sum((col("doc_id") % 101L) * (col("bkey") % 1000003L)).as("band_checksum"))
      val appAgg = s.table(dDocT).agg(
        count(lit(1)).as("n_appended"),
        sum(col("doc_id")).as("appended_id_checksum"))
      docAgg
        .crossJoin(broadcast(bandAgg))
        .crossJoin(broadcast(appAgg))
        .select(
          col("n_docs_total"), col("n_appended"), col("appended_id_checksum"),
          col("n_distinct_digests"), col("digest_checksum"),
          col("shingle_checksum"), col("n_band_rows"), col("band_checksum"))
    }),

    // DEDUP INDEX COMPACTION — fold the O(batch) append deltas back into
    // the base partitions once delta/base exceeds CompactRatioE6
    // (VERDICT r12 #3: the maintenance loop the ANN tier closes with
    // e_index_reseed_apply, for the dedup store). Only delta-touched
    // dp/bp partitions are rewritten (dynamic partition overwrite —
    // every untouched dir stays byte-identical, DedupIndexSpec asserts
    // it); the run-once audit table is the completion marker AND the
    // result. The mirror recomputes the verdicts, replays the fold
    // decision in the same integer arithmetic, and re-derives the
    // touched-partition counts and post-fold checksums from raw text.
    "d_index_compact" -> ((s, dir) =>
      s.table(ensureDedupCompacted(s, dir)).select(
        col("n_base"), col("n_delta_folded"), col("delta_ratio_e6"),
        col("doc_parts_rewritten"), col("band_parts_rewritten"),
        col("n_docs_total"), col("n_distinct_digests"),
        col("digest_checksum"), col("shingle_checksum"),
        col("n_band_rows"), col("band_checksum"))),

    // STREAMING DEDUP INGEST — VERDICT r12 #2: the plant batch replayed
    // as an id-ordered micro-batched file stream; every micro-batch is
    // probed against base ∪ committed deltas through the SAME
    // probeVerdictsWith path and its kept docs land in epoch-partitioned
    // delta tables (exactly-once under replay via epoch isolation +
    // epoch overwrite — see graft.streaming.DedupIngest). Output = the
    // kept-set audit read back from the PERSISTED deltas. The mirror
    // recomputes the batch 'new' set (≡ the stream's kept set under
    // id-ordered arrival, StreamIngestSpec's invariant), replays the
    // digest/band checksums from raw text, and derives the per-epoch
    // keep distribution from the deterministic ntile chunking.
    "d_stream_ingest" -> ((s, dir) => {
      val (dDocT, dBandT) = graft.streaming.DedupIngest.ensureStreamIngested(s, dir)
      val docAgg = s.table(dDocT).agg(
        count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("kept_id_checksum"),
        sum((col("doc_id") % 1009L) * (col("d1") % 1000003L)).as("digest_checksum"),
        count_distinct(col("epoch")).as("n_epochs_with_keeps"))
      val bandAgg = s.table(dBandT).agg(
        count(lit(1)).as("n_band_rows"),
        sum((col("doc_id") % 101L) * (col("bkey") % 1000003L)).as("band_checksum"))
      docAgg
        .crossJoin(broadcast(bandAgg))
        .select(
          col("n_kept"), col("kept_id_checksum"), col("digest_checksum"),
          col("n_epochs_with_keeps"), col("n_band_rows"), col("band_checksum"))
    }),

    // Duplicate-CLUSTER resolution: near-dup pairs are a graph; keeping
    // one doc per duplicate set needs its connected components, not just
    // pairs (a–b, b–c must collapse to ONE keeper, not two independent
    // decisions). Components via alternating large-star/small-star
    // contraction ([[starContract]], VERDICT r12 #4): rounds are
    // O(log² n) on ANY graph shape — a pathological near-dup CHAIN
    // (serial-numbered boilerplate) no longer costs diameter shuffle
    // rounds the way the previous min-label-propagation loop did.
    // Each alternation is two join+groupBy rounds on the shrinking edge
    // set — no driver-side graph; the fixpoint check is a 2-column
    // aggregate. Output contract unchanged (StarContractSpec proves
    // equality with labelPropagate on this very pair graph). Oracle =
    // DuckDB recursive-CTE transitive closure over the exact pair set.
    // Triangle count over the near-dup pair graph (degree-ordered edge
    // orientation — the distributed-triangle standard): orient every
    // edge from its lower-(degree, id) endpoint, wedge-join out-edges on
    // their shared source, close wedges with a semi-join back to the
    // edge set. The orientation is acyclic, so each triangle is counted
    // at exactly one node (its unique out-degree-2 corner), and the
    // wedge join is bounded by Σ outdeg² ≤ O(E^1.5) — a hub of degree k
    // (a duplicate clique) contributes O(k) out-wedges, not O(k²), which
    // is the difference between tractable and quadratic at 100 TB graph
    // scale. Oracle = the plain 3-way self-join on the exact pair set.
    "d_dup_triangles" -> ((s, dir) => {
      val pairs = lshVerifiedPairs(s, dir)
        .select("doc_a", "doc_b")
        .localCheckpoint() // three consumers: degrees, orientation, closure
      val deg = pairs
        .select(explode(array(col("doc_a"), col("doc_b"))).as("v"))
        .groupBy(col("v"))
        .agg(count(lit(1)).as("d"))
      val e = pairs
        .join(deg.select(col("v").as("doc_a"), col("d").as("da")), "doc_a")
        .join(deg.select(col("v").as("doc_b"), col("d").as("db")), "doc_b")
        .select(
          when(
            col("da") < col("db") ||
              (col("da") === col("db") && col("doc_a") < col("doc_b")),
            struct(col("doc_a").as("src"), col("doc_b").as("dst"))
          ).otherwise(struct(col("doc_b").as("src"), col("doc_a").as("dst")))
            .as("o")
        )
        .select(col("o.src").as("src"), col("o.dst").as("dst"))
      // out-wedges, canonicalized by id so the closing edge matches the
      // (doc_a < doc_b) pair form
      val wedges = e
        .select(col("src"), col("dst").as("x"))
        .join(e.select(col("src"), col("dst").as("y")), "src")
        .filter(col("x") < col("y"))
      val tri = wedges.join(
        pairs,
        wedges("x") === pairs("doc_a") && wedges("y") === pairs("doc_b"),
        "left_semi"
      )
      pairs
        .agg(count(lit(1)).as("n_edges"))
        .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
        .crossJoin(deg.agg(max(col("d")).as("max_degree")))
    }),

    "d_dup_clusters" -> ((s, dir) => {
      // r14: no checkpoint here — starContract is the ONLY consumer and
      // its canonicalize+distinct step materializes (localCheckpoint)
      // immediately, so the LSH pipeline runs exactly once either way;
      // the extra barrier was one redundant materialization + job.
      // (d_leakage_safe_split keeps its edges checkpoint: it reads the
      // pair frame TWICE — contraction + the cross-split invariant.)
      val edges = lshVerifiedPairs(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      starContract(edges)
        .groupBy(col("rep").as("cluster"))
        .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_doc"))
        .orderBy("cluster")
    }),

    // Quality-aware keeper selection — the RefinedWeb/FineWeb-style
    // dedup policy: within each near-dup cluster keep the HIGHEST-
    // QUALITY member (ties → smallest doc_id), not the arbitrary
    // min-id representative. Reuses the verified pair graph +
    // starContract components and the bit-portable quality score shared
    // with t_quality_scores (TextQueries.qualitySpark — integer-count
    // ratios rounded to 6, so the argmax tie-back join on equal quality
    // is exact in both engines). Plan shape: the only data-sized stages
    // are the ones d_dup_clusters already runs (LSH candidates + O(log²n)
    // contraction); quality is a narrow codegen projection joined onto
    // the O(dup-graph) label frame, and the struct-max aggregates at
    // cluster granularity — map-side combinable, no window sort. Exact
    // copies (+2e6 plants) tie with their source on identical text, so
    // the min-id tie-break always keeps the original — asserted in
    // DedupSpec.
    "d_quality_keeper" -> ((s, dir) => {
      // no checkpoint: starContract is the only consumer (see
      // d_dup_clusters — its canonicalize step materializes immediately)
      val edges = lshVerifiedPairs(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val labels = starContract(edges)
      val qual = corpus(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), TextQueries.qualitySpark.as("quality"))
      labels
        .join(qual, labels("id") === qual("doc_id"))
        .groupBy(col("rep").as("cluster"))
        .agg(
          max(struct(col("quality").as("q"), (-col("doc_id")).as("nid"))).as("m"),
          count(lit(1)).as("n_docs")
        )
        .select(
          col("cluster"),
          (-col("m.nid")).as("kept_doc"),
          col("m.q").as("kept_quality"),
          col("n_docs"),
          (col("n_docs") - 1).as("n_discarded")
        )
        .orderBy("cluster")
    }),

    // Leakage-safe train/val/test split: assignment is hashed from the
    // duplicate-CLUSTER representative, not the document — near-duplicate
    // docs can never straddle train and test (the classic eval-leakage
    // failure when splitting a deduplicated-in-name-only corpus). Docs
    // outside the pair graph are their own singleton cluster. The
    // registered output carries the end-to-end invariant as a column:
    // n_cross_split_pairs counts LSH pairs whose endpoints landed in
    // different splits — zero by construction, and the oracle recomputes
    // the same zero from the exact pair set.
    "d_leakage_safe_split" -> ((s, dir) => {
      val edges = lshVerifiedPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      val labels =
        starContract(edges.select(col("doc_a").as("a"), col("doc_b").as("b")))
      val docs = corpus(s, dir).select(col("doc_id"))
      val assigned = docs
        .join(labels, docs("doc_id") === labels("id"), "left")
        .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
        .withColumn("h", charRollingHash(col("rep").cast("string")) % 100)
        .withColumn(
          "split",
          when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test")
        )
      val cross = edges
        .join(
          assigned.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
          "doc_a"
        )
        .join(
          assigned.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
          "doc_b"
        )
        .filter(col("split_a") =!= col("split_b"))
        .agg(count(lit(1)).as("n_cross_split_pairs"))
      assigned
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), count_distinct(col("rep")).as("n_clusters"))
        .crossJoin(broadcast(cross))
        .orderBy("split")
    }),

    // SimHash near-dup: 32-bit fingerprints, 4-byte pigeonhole band join
    // (exact for hamming ≤ 3), then the distance itself.
    "d_simhash_pairs" -> ((s, dir) => {
      // TWO simhash passes over the same checkpointed hashed-shingle
      // sets: the shingle hashes live in [0, P) = 30 effective bits, so
      // a single simhash32 carries 30 fingerprint bits and hamming-≤3
      // pigeonhole bands could be at most ~2^7.5 wide — a FIXED bucket
      // space whose band self-join grows as 4·n²/256: ≈5×10⁹ candidate
      // rows at the sf10 probe's 571K docs by the same analysis the
      // probe CONFIRMED on the IVF/LSH queries (the third instance of
      // the fixed-size-bucket disease; this one was caught by analysis
      // before the probe could time it).
      // The second pass runs simhash32 over an affine remix
      // (a·h + b) mod P of every shingle hash (exact in BIGINT on both
      // engines: a, h < P ⇒ a·h < 2^60), yielding 30 more independent
      // fingerprint bits. 60 effective bits split into 4 bands × 15
      // bits (32768 buckets/band): candidates ≈ 4·n²/2^15 = n²/8192 —
      // 128× fewer than the 8-bit bands — and the pigeonhole still
      // covers every bit position where fingerprints can differ, so a
      // hamming-≤3 pair matches ≥1 band exactly. Band width is a layout
      // decision like the LSH table width: widen by adding remix passes
      // (30 bits each) as the corpus grows. Semantics: hamming is now
      // measured over the 60-bit fingerprint — more discriminative than
      // the old 30-bit variant at the same ≤3 threshold (exact copies
      // stay hamming 0; the recall-oriented near-dup path is MinHash).
      val fps = hashedSets(s, dir)
        .withColumn("lo", simhash32(col("hs")))
        .withColumn(
          "hi",
          simhash32(transform(col("hs"), h => (lit(314159265L) * h + 271828182L) % 1000000007L))
        )
        .select(col("doc_id"), col("lo"), col("hi"))
      val bands = fps.select(
        col("doc_id"),
        col("lo"),
        col("hi"),
        explode(
          expr(
            "array(struct(0 AS band, lo & 32767L AS bkey), " +
              "struct(1 AS band, shiftright(lo, 15) & 32767L AS bkey), " +
              "struct(2 AS band, hi & 32767L AS bkey), " +
              "struct(3 AS band, shiftright(hi, 15) & 32767L AS bkey))"
          )
        ).as("bk")
      ).select(col("doc_id"), col("lo"), col("hi"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      bands
        .select(col("band"), col("bkey"), col("doc_id").as("doc_a"),
          col("lo").as("lo_a"), col("hi").as("hi_a"))
        .join(
          bands.select(col("band"), col("bkey"), col("doc_id").as("doc_b"),
            col("lo").as("lo_b"), col("hi").as("hi_b")),
          Seq("band", "bkey")
        )
        .filter(col("doc_a") < col("doc_b"))
        .select(
          col("doc_a"),
          col("doc_b"),
          (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
            bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("int").as("hamming")
        )
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy(col("doc_a"), col("doc_b"))
    })
  )

  /** Shared oracle CTE chain for the incremental-dedup family (inline,
    * index probe, index append): plant + hashed-shingle features + the
    * exact near-pair set + per-doc verdicts. `exactBc` is the
    * exact-vs-corpus predicate (text equality for the inline query,
    * digest-pair equality for the store family — identical semantics,
    * see the store section scaladoc); `withDigests` adds the digest CTEs.
    *
    * The near-pair `inter` join is BATCH-RESTRICTED (r11 sf10 mirror
    * re-plan: the old all-pairs form spent ~2/3 of its Σdf² on
    * base-base pairs the verdict logic never consults — the mirror sat
    * at 539 s of the 900 s cap at sf10). `exb` keeps only batch-side
    * postings; each unordered pair with ≥1 batch member is counted once
    * per shared shingle: both-batch pairs qualify only from their min
    * side, batch-base pairs from the batch side regardless of id order.
    *
    * `near` is forced MATERIALIZED: it is the tiny threshold-filtered
    * pair set, but it is referenced twice (nsym's union arms) and DuckDB
    * inlined it in the store-family variants — re-running the whole
    * `inter` chain, whose transient aggregate spill alone exceeded the
    * host's free disk at sf10 (observed ENOSPC; the inline-chained
    * d_incremental_dedup form of the same chain passed at 192 s).
    * Materializing the small frontier caps the chain at one execution.
    */
  private def incOracleCte(exactBc: String, withDigests: Boolean): String = {
    val dgCtes = if (!withDigests) ""
    else
      s""",
         |rtx AS (SELECT doc_id, reverse(text) AS rtext FROM allu),
         |dg AS MATERIALIZED (SELECT r.doc_id, ${charHashDuck("a.text")} AS d1,
         |              ${charHashDuck("r.rtext")} AS d2
         |       FROM rtx r JOIN allu a ON r.doc_id = a.doc_id)""".stripMargin
    s"""WITH idguard AS (
       |  SELECT CASE WHEN max(doc_id) >= 3000000
       |              THEN error(concat('incremental-dedup plant: corpus doc_id ', max(doc_id),
       |                                ' >= 3000000 breaks the plant id-offset scheme'))
       |              ELSE 1 END AS ok FROM documents),
       |base AS (SELECT doc_id, text FROM documents, idguard WHERE doc_id % 5 <> 0 AND idguard.ok = 1),
       |braw AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
       |batch AS (
       |  SELECT doc_id, text FROM braw
       |  UNION ALL
       |  SELECT doc_id + 3000000 AS doc_id, text FROM base WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 4000000 AS doc_id,
       |         array_to_string(ws[1:greatest(len(ws) - 2, 1)], ' ') AS text
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM base)
       |  WHERE doc_id % 11 = 0
       |  UNION ALL
       |  SELECT doc_id + 5000000 AS doc_id, text FROM braw WHERE doc_id % 13 = 0
       |),
       |allu AS (SELECT doc_id, text FROM base UNION ALL SELECT doc_id, text FROM batch)$dgCtes,
       |tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM allu),
       |whs AS (SELECT doc_id, [${charHashDuck("w")} for w in ws] AS wh FROM tok),
       |hsl AS (SELECT doc_id, list_distinct(${hashedNgramsDuck("wh", 3)}) AS hs FROM whs),
       |ex AS (SELECT doc_id, unnest(hs) AS s FROM hsl),
       |sz AS (SELECT doc_id, len(hs) AS n FROM hsl),
       |exb AS (SELECT doc_id, s FROM ex WHERE doc_id % 5 = 0 OR doc_id >= 3000000),
       |inter AS (
       |  SELECT least(t.doc_id, u.doc_id) AS da,
       |         greatest(t.doc_id, u.doc_id) AS db, count(*) AS i
       |  FROM exb t JOIN ex u ON t.s = u.s
       |  WHERE t.doc_id < u.doc_id
       |     OR (u.doc_id < t.doc_id
       |         AND NOT (u.doc_id % 5 = 0 OR u.doc_id >= 3000000))
       |  GROUP BY 1, 2),
       |near AS MATERIALIZED (
       |  SELECT da, db FROM inter
       |  JOIN sz sa ON da = sa.doc_id
       |  JOIN sz sb ON db = sb.doc_id
       |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $JaccardT),
       |nsym AS (SELECT da AS u, db AS v FROM near UNION ALL SELECT db AS u, da AS v FROM near),
       |v AS (SELECT b.doc_id,
       |  CASE WHEN $exactBc
       |         THEN 'exact_dup_corpus'
       |       WHEN EXISTS (SELECT 1 FROM nsym n JOIN base c ON n.v = c.doc_id
       |                    WHERE n.u = b.doc_id)
       |         THEN 'near_dup_corpus'
       |       WHEN EXISTS (SELECT 1 FROM batch b2
       |                    WHERE b2.doc_id < b.doc_id AND b2.text = b.text)
       |         OR EXISTS (SELECT 1 FROM nsym n JOIN batch b2 ON n.v = b2.doc_id
       |                    WHERE n.u = b.doc_id AND b2.doc_id < b.doc_id)
       |         THEN 'dup_in_batch'
       |       ELSE 'new' END AS verdict
       |  FROM batch b)""".stripMargin
  }

  /** Digest-pair exact-vs-corpus predicate for the store-family oracles
    * (mirrors the engine's semi-join against the persisted d1/d2
    * columns; base docs are the allu rows with original corpus ids).
    */
  private val exactBcDigest: String =
    """EXISTS (SELECT 1 FROM dg m JOIN dg c
      |                    ON c.d1 = m.d1 AND c.d2 = m.d2
      |                    WHERE m.doc_id = b.doc_id
      |                      AND c.doc_id % 5 <> 0 AND c.doc_id < 3000000)""".stripMargin

  /** Verdict-aggregate tail shared by d_incremental_dedup / d_index_probe. */
  private val incVerdictTail: String =
    """SELECT verdict, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
      |FROM v GROUP BY verdict ORDER BY verdict""".stripMargin

  /** Band-key mirror of [[bandKeysOf]] as RELATIONAL CTEs over a
    * (doc_id, s) postings CTE — 64 PARALLEL min aggregates in ONE
    * GROUP BY doc_id pass. Two rejected shapes, both measured: the
    * per-doc `minhashSigDuck` list comprehension runs scalar-at-a-time
    * (19 s at sf0.001 → guaranteed sf10 TIMEOUT), and the relational
    * postings × range(64) cross product feeds an 11-BILLION-row
    * aggregate input at sf10 whose out-of-core partitioning spilled past
    * the host's 76 GB free disk (observed ENOSPC mid-sweep). 64 min(...)
    * expressions over the raw postings keep the input at |postings| rows
    * and the state at 64 longs per doc; the 32 band keys then pack the
    * even/odd pairs in a 500k-row projection. Identical integer
    * arithmetic; engine band b packs sig[2b+1]·P + sig[2b+2]
    * (1-indexed) = minhash functions i = 2b and 2b+1.
    */
  private def bandCtesDuck(exCte: String, mh: String, bnd: String): String = {
    val mins = (0 until NumHashes)
      .map(i => s"min((${minhashA(i)} * s + ${minhashB(i)}) % $P) AS m$i")
      .mkString(", ")
    val bkeys = (0 until NumBands)
      .map(b => s"m${2 * b} * $P + m${2 * b + 1}")
      .mkString("[", ", ", "]")
    s"""$mh AS (SELECT doc_id, $mins
       |      FROM $exCte GROUP BY doc_id),
       |$bnd AS (SELECT doc_id, unnest($bkeys) AS bkey FROM $mh)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // Store build audit: replay digest + shingle + minhash arithmetic
    // over the base corpus and compute the identical checksums.
    "d_index_build" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
         |rtx AS (SELECT doc_id, reverse(text) AS rtext FROM base),
         |dg AS (SELECT r.doc_id, ${charHashDuck("a.text")} AS d1,
         |              ${charHashDuck("r.rtext")} AS d2
         |       FROM rtx r JOIN base a ON r.doc_id = a.doc_id),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM base),
         |whs AS (SELECT doc_id, [${charHashDuck("w")} for w in ws] AS wh FROM tok),
         |hsl AS (SELECT doc_id, list_distinct(${hashedNgramsDuck("wh", 3)}) AS hs FROM whs),
         |ex AS (SELECT doc_id, unnest(hs) AS s FROM hsl),
         |${bandCtesDuck("ex", "mh", "bnd")}
         |SELECT d.n_docs, d.n_distinct_digests,
         |       CAST(d.digest_checksum AS BIGINT) AS digest_checksum,
         |       CAST(h.shingle_checksum AS BIGINT) AS shingle_checksum,
         |       b.n_band_rows, b.n_partitions,
         |       CAST(b.band_checksum AS BIGINT) AS band_checksum
         |FROM (SELECT count(*) AS n_docs,
         |             count(DISTINCT d1 * $P + d2) AS n_distinct_digests,
         |             sum((doc_id % 1009) * (d1 % 1000003)) AS digest_checksum
         |      FROM dg) d,
         |     (SELECT sum(s % 1000003) AS shingle_checksum FROM ex) h,
         |     (SELECT count(*) AS n_band_rows,
         |             count(DISTINCT bkey % $DixParts) AS n_partitions,
         |             sum((doc_id % 101) * (bkey % 1000003)) AS band_checksum
         |      FROM bnd) b""".stripMargin,
    // Store probe: identical verdict semantics to d_incremental_dedup,
    // with the exact-vs-corpus check on the digest PAIR the store
    // persists (≡ text equality at any reachable scale; the mirror
    // replays the same arithmetic so the comparison is bit-exact
    // regardless).
    "d_index_probe" ->
      s"""${incOracleCte(exactBcDigest, withDigests = true)}
         |$incVerdictTail""".stripMargin,
    // Store append: recompute the verdicts, take the 'new' docs, and
    // replay the serving-index (base ∪ appended) audit from scratch.
    "d_index_append" ->
      s"""${incOracleCte(exactBcDigest, withDigests = true)},
         |newdocs AS MATERIALIZED (SELECT doc_id FROM v WHERE verdict = 'new'),
         |srv AS MATERIALIZED (SELECT doc_id FROM base UNION ALL SELECT doc_id FROM newdocs),
         |sdg AS (SELECT dg.doc_id, dg.d1, dg.d2 FROM dg JOIN srv USING (doc_id)),
         |sex AS (SELECT ex.doc_id, ex.s FROM ex JOIN srv USING (doc_id)),
         |${bandCtesDuck("sex", "smh", "sbnd")}
         |SELECT d.n_docs_total, a.n_appended,
         |       CAST(a.appended_id_checksum AS BIGINT) AS appended_id_checksum,
         |       d.n_distinct_digests,
         |       CAST(d.digest_checksum AS BIGINT) AS digest_checksum,
         |       CAST(h.shingle_checksum AS BIGINT) AS shingle_checksum,
         |       b.n_band_rows,
         |       CAST(b.band_checksum AS BIGINT) AS band_checksum
         |FROM (SELECT count(*) AS n_docs_total,
         |             count(DISTINCT d1 * $P + d2) AS n_distinct_digests,
         |             sum((doc_id % 1009) * (d1 % 1000003)) AS digest_checksum
         |      FROM sdg) d,
         |     (SELECT sum(s % 1000003) AS shingle_checksum FROM sex) h,
         |     (SELECT count(*) AS n_band_rows,
         |             sum((doc_id % 101) * (bkey % 1000003)) AS band_checksum
         |      FROM sbnd) b,
         |     (SELECT count(*) AS n_appended,
         |             sum(doc_id) AS appended_id_checksum
         |      FROM newdocs) a""".stripMargin,
    // Compaction: recompute the verdicts, replay the fold decision
    // (integer e6 ratio vs threshold), derive the delta-touched
    // partition counts from the 'new' docs' ids / band keys, and replay
    // the post-fold serving audit over base ∪ new from raw text.
    "d_index_compact" ->
      s"""${incOracleCte(exactBcDigest, withDigests = true)},
         |newdocs AS MATERIALIZED (SELECT doc_id FROM v WHERE verdict = 'new'),
         |rt AS (SELECT nb.n_base, nd.n_delta,
         |              nd.n_delta * 1000000 // nb.n_base AS ratio_e6,
         |              (nd.n_delta * 1000000 // nb.n_base) >= $CompactRatioE6 AS folded
         |       FROM (SELECT count(*) AS n_base FROM base) nb,
         |            (SELECT count(*) AS n_delta FROM newdocs) nd),
         |srv AS MATERIALIZED (
         |  SELECT doc_id FROM base
         |  UNION ALL
         |  SELECT doc_id FROM newdocs WHERE (SELECT folded FROM rt)),
         |sdg AS (SELECT dg.doc_id, dg.d1, dg.d2 FROM dg JOIN srv USING (doc_id)),
         |sex AS (SELECT ex.doc_id, ex.s FROM ex JOIN srv USING (doc_id)),
         |${bandCtesDuck("sex", "smh", "sbnd")},
         |kex AS (SELECT ex.doc_id, ex.s FROM ex JOIN newdocs USING (doc_id)),
         |${bandCtesDuck("kex", "kmh", "kbnd")}
         |SELECT r.n_base, r.n_delta AS n_delta_folded,
         |       CAST(r.ratio_e6 AS BIGINT) AS delta_ratio_e6,
         |       CASE WHEN r.folded THEN dpn.n ELSE 0 END AS doc_parts_rewritten,
         |       CASE WHEN r.folded THEN bpn.n ELSE 0 END AS band_parts_rewritten,
         |       d.n_docs_total, d.n_distinct_digests,
         |       CAST(d.digest_checksum AS BIGINT) AS digest_checksum,
         |       CAST(h.shingle_checksum AS BIGINT) AS shingle_checksum,
         |       b.n_band_rows,
         |       CAST(b.band_checksum AS BIGINT) AS band_checksum
         |FROM rt r,
         |     (SELECT count(DISTINCT doc_id % $DixParts) AS n FROM newdocs) dpn,
         |     (SELECT count(DISTINCT bkey % $DixParts) AS n FROM kbnd) bpn,
         |     (SELECT count(*) AS n_docs_total,
         |             count(DISTINCT d1 * $P + d2) AS n_distinct_digests,
         |             sum((doc_id % 1009) * (d1 % 1000003)) AS digest_checksum
         |      FROM sdg) d,
         |     (SELECT sum(s % 1000003) AS shingle_checksum FROM sex) h,
         |     (SELECT count(*) AS n_band_rows,
         |             sum((doc_id % 101) * (bkey % 1000003)) AS band_checksum
         |      FROM sbnd) b""".stripMargin,
    // Streaming ingest: the kept set ≡ the batch 'new' set under
    // id-ordered arrival; the per-epoch distribution falls out of the
    // deterministic ntile chunking (epoch i keeps = 'new' docs whose
    // chunk is i+1).
    "d_stream_ingest" ->
      s"""${incOracleCte(exactBcDigest, withDigests = true)},
         |newdocs AS MATERIALIZED (SELECT doc_id FROM v WHERE verdict = 'new'),
         |chk AS (SELECT doc_id,
         |               ntile(${graft.streaming.DedupIngest.NumChunks})
         |                 OVER (ORDER BY doc_id) AS chunk
         |        FROM batch),
         |kdg AS (SELECT dg.doc_id, dg.d1, dg.d2 FROM dg JOIN newdocs USING (doc_id)),
         |kex AS (SELECT ex.doc_id, ex.s FROM ex JOIN newdocs USING (doc_id)),
         |${bandCtesDuck("kex", "kmh", "kbnd")}
         |SELECT d.n_kept,
         |       CAST(d.kept_id_checksum AS BIGINT) AS kept_id_checksum,
         |       CAST(d.digest_checksum AS BIGINT) AS digest_checksum,
         |       e.n_epochs_with_keeps,
         |       b.n_band_rows,
         |       CAST(b.band_checksum AS BIGINT) AS band_checksum
         |FROM (SELECT count(*) AS n_kept, sum(doc_id) AS kept_id_checksum,
         |             sum((doc_id % 1009) * (d1 % 1000003)) AS digest_checksum
         |      FROM kdg) d,
         |     (SELECT count(DISTINCT c.chunk) AS n_epochs_with_keeps
         |      FROM chk c JOIN newdocs n ON c.doc_id = n.doc_id) e,
         |     (SELECT count(*) AS n_band_rows,
         |             sum((doc_id % 101) * (bkey % 1000003)) AS band_checksum
         |      FROM kbnd) b""".stripMargin,
    "d_exact_dedup_counts" ->
      s"""$corpusCte
         |SELECT count(*) AS rows_in,
         |       count(DISTINCT text) AS rows_out,
         |       count(*) - count(DISTINCT text) AS dedup_removed
         |FROM corpus""".stripMargin,
    "d_exact_dedup_groups" ->
      s"""$corpusCte
         |SELECT min(doc_id) AS keeper, count(*) AS n_copies
         |FROM corpus GROUP BY text HAVING count(*) > 1
         |ORDER BY keeper""".stripMargin,
    // DF-capped inverted index, mirrored exactly: the output is
    // {shares ≥1 rare (df ≤ MaxDF) shingle} ∧ {Jaccard ≥ 0.7 from full
    // sets}. The r14 first cut generated candidates from the rare-
    // postings self-join (the engine's own plan) — Σ C(df≤10, 2) pair
    // rows before DISTINCT, >900 s at sf10 in DuckDB. Since every
    // output pair must pass the Jaccard threshold anyway, candidates
    // now come from the LOSSLESS prefix filter (prefixPairCtes) and the
    // rare-share membership becomes a per-candidate filter over the
    // docs' rare-shingle sublists — set-algebra identical, near
    // output-sized intermediate.
    "d_ngram_jaccard_pairs" ->
      s"""$corpusCte
         |$shingleCte
         |$prefixPairCtes
         |, exk AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfc ON ex.s = dfc.s WHERE dfc.c <= $MaxDF)
         |, rhl AS (SELECT doc_id, list(s) AS rh FROM exk GROUP BY doc_id)
         |SELECT doc_a, doc_b,
         |       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         |FROM inter
         |JOIN sz sa ON doc_a = sa.doc_id
         |JOIN sz sb ON doc_b = sb.doc_id
         |JOIN rhl ra ON doc_a = ra.doc_id
         |JOIN rhl rb ON doc_b = rb.doc_id
         |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $JaccardT
         |  AND list_has_any(ra.rh, rb.rh)
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Containment over the prefix-copy corpus: output = {shares ≥1 rare
    // shingle} ∧ {either-direction containment ≥ 0.9, e6 integers}.
    // Candidates (r14 re-plan — the rare-postings self-join was >900 s
    // at sf10) come from the ASYMMETRIC prefix filter: containment ≥
    // 0.9 means i ≥ ⌈0.9·n_contained⌉, so the smallest-order shared
    // token must sit in the CONTAINED side's (n − ⌊0.9n⌋ + 1)-prefix —
    // join that 10%-prefix (rarest tokens, low df) against the FULL
    // postings of potential containers; both orientations surface via
    // least/greatest. (The symmetric Jaccard prefix is NOT lossless
    // here: a 20-shingle doc 0.9-contained in a 100-shingle doc has
    // J ≈ 0.18.) The rare-share membership is a per-candidate
    // list_has_any over the docs' rare sublists — the df-capped
    // semantics, applied as a filter instead of a generator.
    "d_containment_pairs" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id,
         |         array_to_string(string_split(text, ' ')[1:20], ' ') AS text
         |  FROM documents WHERE doc_id % 11 = 0
         |)
         |$shingleCte
         |, dfc AS (SELECT s, count(*) AS c FROM ex GROUP BY s)
         |, exk AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfc ON ex.s = dfc.s WHERE dfc.c <= $MaxDF)
         |, rhl AS (SELECT doc_id, list(s) AS rh FROM exk GROUP BY doc_id)
         |, pfx9 AS MATERIALIZED (
         |  SELECT doc_id, s FROM (
         |    SELECT ex.doc_id, ex.s,  sz.n,
         |           row_number() OVER (PARTITION BY ex.doc_id ORDER BY dfc.c, ex.s) AS r
         |    FROM ex JOIN dfc ON ex.s = dfc.s JOIN sz ON ex.doc_id = sz.doc_id)
         |  WHERE r <= n - (9 * n) // 10 + 1)
         |, cand AS (SELECT DISTINCT least(p.doc_id, e.doc_id) AS doc_a,
         |                  greatest(p.doc_id, e.doc_id) AS doc_b
         |           FROM pfx9 p JOIN ex e ON p.s = e.s AND p.doc_id <> e.doc_id)
         |, inter AS (
         |  SELECT c.doc_a, c.doc_b, len(list_intersect(ha.hs, hb.hs)) AS i
         |  FROM cand c JOIN hsl ha ON c.doc_a = ha.doc_id
         |              JOIN hsl hb ON c.doc_b = hb.doc_id
         |              JOIN rhl ra ON c.doc_a = ra.doc_id
         |              JOIN rhl rb ON c.doc_b = rb.doc_id
         |  WHERE list_has_any(ra.rh, rb.rh))
         |, sc AS (
         |  SELECT doc_a, doc_b, CAST(i AS BIGINT) AS i, sa.n AS na, sb.n AS nb,
         |         (CAST(i AS BIGINT) * 1000000) // sa.n AS c_ab_e6,
         |         (CAST(i AS BIGINT) * 1000000) // sb.n AS c_ba_e6
         |  FROM inter
         |  JOIN sz sa ON doc_a = sa.doc_id
         |  JOIN sz sb ON doc_b = sb.doc_id)
         |SELECT CASE WHEN c_ab_e6 >= c_ba_e6 THEN doc_a ELSE doc_b END AS contained_id,
         |       CASE WHEN c_ab_e6 >= c_ba_e6 THEN doc_b ELSE doc_a END AS container_id,
         |       i AS n_shared,
         |       greatest(c_ab_e6, c_ba_e6) AS containment_e6,
         |       (i * 1000000) // (na + nb - i) AS jaccard_e6
         |FROM sc
         |WHERE c_ab_e6 >= 900000 OR c_ba_e6 >= 900000
         |ORDER BY 1, 2""".stripMargin,
    // The LSH path must reproduce the exact pair set (verification step
    // + negligible banding miss probability at the threshold).
    "d_minhash_lsh_pairs" -> exactPairsSql,
    // Incremental dedup: the oracle recomputes the exact verdicts with
    // text-equality for exact dups and the inverted-index exact pair set
    // (≥0.7 on the hashed 3-gram sets) for near dups — the LSH probe path
    // must reproduce it (verification + negligible banding miss).
    "d_incremental_dedup" ->
      s"""${incOracleCte(
             "EXISTS (SELECT 1 FROM base c WHERE c.text = b.text)",
             withDigests = false)}
         |$incVerdictTail""".stripMargin,
    // Triangles must match the plain 3-way self-join on the exact pair
    // set (the Spark side's orientation trick is invisible to results).
    "d_dup_triangles" ->
      s"""$corpusCte
         |$shingleCte
         |$prefixPairCtes
         |, deg AS (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT doc_a AS v FROM pairs
         |    UNION ALL SELECT doc_b AS v FROM pairs) GROUP BY v)
         |SELECT
         |  (SELECT count(*) FROM pairs) AS n_edges,
         |  (SELECT count(*) FROM pairs p1
         |     JOIN pairs p2 ON p2.doc_a = p1.doc_b
         |     JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
         |  ) AS n_triangles,
         |  (SELECT max(d) FROM deg) AS max_degree""".stripMargin,
    // The split invariant must hold end-to-end: the oracle recomputes
    // clusters via recursive closure, assigns splits from the SAME
    // rep-hash, and counts cross-split pairs (zero).
    "d_leakage_safe_split" ->
      s"""${corpusCte.replaceFirst("WITH", "WITH RECURSIVE")}
         |$shingleCte
         |$prefixPairCtes
         |, e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs)
         |, reach(n, m) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a)
         |, rp AS (SELECT n AS id, least(n, min(m)) AS rep FROM reach GROUP BY n)
         |, sp AS (
         |  SELECT c.doc_id, coalesce(rp.rep, c.doc_id) AS rep,
         |    CASE WHEN ${charHashDuck("CAST(coalesce(rp.rep, c.doc_id) AS VARCHAR)")} % 100 < 80 THEN 'train'
         |         WHEN ${charHashDuck("CAST(coalesce(rp.rep, c.doc_id) AS VARCHAR)")} % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM corpus c LEFT JOIN rp ON c.doc_id = rp.id)
         |, xs AS (
         |  SELECT count(*) AS n_cross FROM pairs p
         |  JOIN sp a ON p.doc_a = a.doc_id
         |  JOIN sp b ON p.doc_b = b.doc_id
         |  WHERE a.split <> b.split)
         |SELECT split, count(*) AS n_docs, count(DISTINCT rep) AS n_clusters,
         |  (SELECT n_cross FROM xs) AS n_cross_split_pairs
         |FROM sp GROUP BY split ORDER BY split""".stripMargin,
    // Components over the exact pair set via recursive-CTE transitive
    // closure (tiny here; the Spark side is the one built for scale).
    "d_dup_clusters" ->
      s"""${corpusCte.replaceFirst("WITH", "WITH RECURSIVE")}
         |$shingleCte
         |$prefixPairCtes
         |, e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs)
         |, reach(n, m) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a)
         |, rep AS (SELECT n AS id, least(n, min(m)) AS rep FROM reach GROUP BY n)
         |SELECT rep AS cluster, count(*) AS n_docs, max(id) AS max_doc
         |FROM rep GROUP BY rep ORDER BY cluster""".stripMargin,
    // Same recursive-closure component mirror joined to the shared
    // quality mirror (TextQueries.qualityDuck — identical rounded
    // doubles on both engines, so the scalar-max + tie-back argmax is
    // exact; min(id) implements the smaller-id tie-break).
    "d_quality_keeper" ->
      s"""${corpusCte.replaceFirst("WITH", "WITH RECURSIVE")}
         |$shingleCte
         |$prefixPairCtes
         |, e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs)
         |, reach(n, m) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a)
         |, rep AS (SELECT n AS id, least(n, min(m)) AS rep FROM reach GROUP BY n)
         |, q AS (SELECT doc_id, ${TextQueries.qualityDuck} AS quality
         |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus))
         |, j AS (SELECT r.rep AS cluster, r.id AS id, q.quality
         |        FROM rep r JOIN q ON q.doc_id = r.id)
         |, mx AS (SELECT cluster, max(quality) AS mq, count(*) AS n_docs
         |         FROM j GROUP BY cluster)
         |SELECT m.cluster, min(j.id) AS kept_doc, m.mq AS kept_quality,
         |       m.n_docs, m.n_docs - 1 AS n_discarded
         |FROM mx m JOIN j ON j.cluster = m.cluster AND j.quality = m.mq
         |GROUP BY m.cluster, m.mq, m.n_docs
         |ORDER BY m.cluster""".stripMargin,
    // Mirror of BOTH simhash passes; the remix list comprehension is the
    // exact BIGINT affine map the Spark lambda computes. Candidate
    // generation (r14 re-plan — the old form was an n²/2 all-pairs
    // self-join, the family's sf10 timeout) uses a 4×16-bit PIGEONHOLE
    // band join: a hamming-≤3 pair over the 64 concatenated fingerprint
    // bits must agree exactly on ≥1 of the 4 16-bit chunks, so the band
    // join is LOSSLESS — not a sketch — and invisible to the result set;
    // the verification still computes the full distance. fps is
    // MATERIALIZED (three consumers; an inlined CTE re-runs the per-doc
    // simhash folds once per side).
    "d_simhash_pairs" ->
      s"""$corpusCte
         |$shingleCte
         |, fps AS MATERIALIZED (SELECT doc_id, ${simhashDuck("hs")} AS lo,
         |            ${simhashDuck("[(314159265 * g + 271828182) % 1000000007 for g in hs]")} AS hi
         |          FROM hsl)
         |, bnds AS (SELECT doc_id, r.range AS band,
         |    CASE r.range WHEN 0 THEN lo & 65535 WHEN 1 THEN lo >> 16
         |                 WHEN 2 THEN hi & 65535 ELSE hi >> 16 END AS bkey
         |  FROM fps CROSS JOIN range(0, 4) r)
         |, scand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bnds a JOIN bnds b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
         |FROM scand c JOIN fps a ON c.doc_a = a.doc_id JOIN fps b ON c.doc_b = b.doc_id
         |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
  )
}
