package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.rel.Tables

/** Deduplication operators for an LLM training-data pipeline: exact
  * (hash-groupBy), keep-first (window), MinHash+LSH near-dup, SimHash
  * signatures, and blocked exact n-gram Jaccard.
  *
  * Portability: the 32-bit shingle/word hash is the first 8 hex chars of
  * md5 — identical in Spark (`conv(substring(md5(x),1,8),16,10)`) and
  * DuckDB (`('0x' || substring(md5(x),1,8))::BIGINT`), so every oracle
  * reproduces the signatures bit-for-bit.
  *
  * Scale posture: MinHash signatures are one explode + one hash-aggregate
  * (single shuffle on doc_id); LSH banding turns the quadratic pair search
  * into an equi-join on band keys; the exact-Jaccard verify only touches
  * LSH candidates. At 100 TB the same plan holds — the band join is the
  * only shuffle whose width depends on near-dup density, not corpus size.
  */
object DedupQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- shared MinHash parameters (mirrored verbatim in the oracles) ----
  private[graft] val P = 4294967311L // prime > 2^32
  private[graft] val NumHashes = 16
  // independent multipliers in [1, 2^31) from a fixed seed, so that
  // h·a + b stays inside BIGINT for a 32-bit h in Spark and DuckDB alike.
  // Correlated ones (a = 2j + 3) let one extra shingle take the minimum
  // in every band at once, and a one-word-apart pair then shares none.
  private[graft] val hashA: Seq[Long] =
    new java.util.Random(0x6d696e68L).longs(NumHashes, 1L, 1L << 31).toArray.toSeq
  private[graft] val hashB: Seq[Long] = (0 until NumHashes).map(j => 104729L * (j + 1))
  private val BandSize = 4 // 4 bands x 4 rows
  private val JaccardThreshold = 0.8

  /** portable 32-bit hash of a string column. */
  private[ext] def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Deterministic hash-sampled partners (shared by d19's link graph
    * and m07's negative sampling): each row's `idCol` gets `k`
    * pseudo-random partner ids `h32(id:j) mod n` — uniform over dense
    * 0..n-1 ids, resumable (no RNG state), skew-free by
    * hash-uniformity; self-collisions are DROPPED, not re-drawn, so
    * the output is a pure function of the ids. `nRow` must be a
    * single-row aggregate with one BIGINT column `n` — it broadcasts
    * (the scalar idiom). Input columns named `j`, `n`, or `partner`
    * would collide and are the caller's responsibility to avoid. */
  private[ext] def hashedPartners(
      df: DataFrame, idCol: String, k: Int, nRow: DataFrame): DataFrame =
    df.crossJoin(broadcast(nRow))
      .withColumn("j", explode(array((1 to k).map(lit): _*)))
      .withColumn("partner",
        h32(concat(col(idCol).cast("string"), lit(":"),
          col("j").cast("string"))) % col("n"))
      .filter(col("partner") =!= col(idCol))
      .drop("j", "n")

  /** Persisted-relation cache — see [[RelCache]] for keying/eviction. */
  private def cached(s: SparkSession, dir: String, tag: String)
                    (build: => DataFrame): DataFrame =
    RelCache.cached(s, s"$dir#$tag")(build)

  private def shingleCol(text: Column): Column = {
    val words = split(text, " ")
    // a <3-word doc has NO shingles. Guarded explicitly: sequence(0, n)
    // with n < 0 is a DESCENDING sequence in Spark, whose i = -1 would
    // make slice() throw at runtime — the operators that shingle the
    // whole corpus (d08/d12/st08) must survive a short document.
    when(size(words) < 3, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(words) - 3),
        i => concat_ws(" ", slice(words, i + 1, lit(3))))))
  }

  /** (doc_id, m0..m15) MinHash signature relation over a (doc_id, hs)
    * hashed-shingle relation — ONE fused `graft_minhash` pass per row
    * (r19, guide §4) replacing the 16 interpreted
    * `array_min(transform(hs, h -> (h*a_j+b_j) % p))` lambdas (16
    * passes over the shingle array with an intermediate array each —
    * the dominant per-row term of the minhash family at scale). Values
    * are identical (SigKernelSpec pins element equality to the literal
    * fold); the m0..m15 extraction is a separate projection so the
    * kernel column is produced once and the 16 getItems read it. */
  private def minhashSig(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    docs
      .select(col("doc_id"), call_function("graft_minhash", col("hs"),
        array(hashA.map(lit): _*), array(hashB.map(lit): _*),
        lit(P)).as("sigv"))
      .select((col("doc_id") +: (0 until NumHashes).map(j =>
        col("sigv").getItem(j).as(s"m$j"))): _*)
  }

  /** Distinct 32-bit-hashed shingle set. Near-dup verification compares
    * these hashed sets, not the string sets: `array_intersect` over longs
    * is several times cheaper than over ~20-char strings, and because the
    * hash is the portable md5 prefix, the DuckDB oracle builds the SAME
    * hashed sets — results agree bit-for-bit even on hash collisions. */
  private[graft] def hashedShingles(text: Column): Column =
    array_distinct(transform(shingleCol(text), s => h32(s)))

  /** Exact dedup summary: distinct-text counts per language. */
  def d01ExactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5($"text")).as("n_distinct"),
        (count(lit(1)) - countDistinct(md5($"text"))).as("n_dups"))
      .orderBy($"lang")
  }

  /** Keep-first dedup: earliest event per (user_id, event_type). */
  def d02KeepFirst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    t(s, dir, "events")
      .filter($"user_id" < 50)
      .withColumn("rn", row_number().over(w))
      .withColumn("group_size", count(lit(1)).over(
        Window.partitionBy($"user_id", $"event_type")))
      .filter($"rn" === 1)
      .select($"user_id", $"event_type", $"event_id".as("kept_event_id"),
        ($"group_size" - 1).cast("long").as("n_dropped"))
      .orderBy($"user_id", $"event_type")
  }

  /** MinHash + LSH near-duplicate pairs, verified with exact Jaccard
    * over the hashed shingle sets. The hashed sets are computed ONCE per
    * doc; signatures derive from them by explode+min-aggregate, and the
    * candidate verify joins ship long-arrays instead of string-arrays. */
  def d03MinHashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The hashed-shingle relation feeds THREE plan subtrees (signatures +
    // both sides of the candidate-verify join); persist so the md5
    // shingling runs once, not three times. MEMORY_AND_DISK keeps the
    // same plan valid at 100 TB (spills instead of OOM), where the
    // re-computation it avoids is a full corpus re-scan.
    val docs = cached(s, dir, "minhash_docs") {
      t(s, dir, "documents")
        .filter(size(split($"text", " ")) >= 3)
        .select($"doc_id", hashedShingles($"text").as("hs"))
    }
    // MinHash as a PROJECTION over the per-doc hashed-shingle array —
    // identical to min-over-exploded-rows, but with no 5M-row explode
    // and NO shuffle: the signature stage is map-side only, which is the
    // difference between a wide and a narrow stage at 100 TB. One fused
    // kernel pass computes all 16 mins (minhashSig, r19).
    val sig = minhashSig(s, docs)
    // ONE pass over sig: posexplode the 4 band keys (a 4-way union of
    // sig.select(...) would re-execute the whole explode+hash+aggregate
    // signature chain per band — Catalyst does not dedupe common
    // subtrees across union branches).
    val bandKeys = array((0 until NumHashes / BandSize).map { b =>
      concat_ws(",", (0 until BandSize).map(r => col(s"m${b * BandSize + r}")): _*)
    }: _*)
    val bands = sig.select($"doc_id", posexplode(bandKeys).as(Seq("band", "band_key")))
    // Candidate pairs by bucket-local expansion (groupBy + collect_list)
    // instead of a bands⋈bands self-join — halves the heavy subtree
    // executions and shuffles each band bucket once; oversized buckets
    // (a corpus of near-identical docs collapsing onto one band key)
    // shard via [[saltedPairExpansion]]'s triangle salting.
    val cand = saltedPairExpansion(bands, Seq("band", "band_key"),
      Seq($"doc_id"), "doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    cand
      .join(docs.select($"doc_id".as("doc_a"), $"hs".as("sa")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"hs".as("sb")), "doc_b")
      .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("double"))
      .withColumn("jac", round($"inter" /
        (size($"sa") + size($"sb") - $"inter"), 6))
      .filter($"jac" >= JaccardThreshold)
      .select($"doc_a", $"doc_b", $"jac")
      .orderBy($"doc_a", $"doc_b")
  }

  /** SimHash: 32-bit signature over word occurrences per document. */
  def d04SimHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = t(s, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .withColumn("h", h32($"w"))
    val bitSums = (0 until 32).map { i =>
      sum(when(shiftright($"h", i).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"b$i")
    }
    val agg = words.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 32).map { i =>
      when(col(s"b$i") > 0, 1L << i).otherwise(0L)
    }.reduce(_ + _)
    agg.select($"doc_id", sig.as("simhash"))
      .orderBy($"doc_id")
  }

  /** Exact word-3-gram Jaccard near-dup with length-bucket blocking:
    * pairs are only compared within the same or adjacent 64-char bucket,
    * keeping candidate counts linear in corpus size for ~uniform lengths. */
  def d05NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ngramPairs(s, dir).orderBy($"doc_a", $"doc_b")
  }

  // salt fan-out for oversized buckets, and the size at which a bucket
  // is considered skewed (quadratic expansion of a 64-member bucket is
  // ~2k pairs — fine in one task; past that, shard it)
  private val PairSalts = 8
  private val BucketCap = 64

  /** Bucket-local candidate-pair expansion with skew salting — shared
    * by every LSH/blocking family operator (d03 MinHash bands, d05
    * prefix buckets, s05 embedding bands). `rows` carries the bucket
    * key columns plus the member columns; one bucket's members pair up
    * locally (collect_list + nested transform — ONE heavy-subtree
    * execution, not a self-join). A degenerate bucket (a ubiquitous
    * shingle, a corpus of identical documents collapsing to one band
    * key) would make that single task quadratic, so buckets over
    * [[BucketCap]] members shard with the triangle scheme: each member
    * takes a salt g = hash(id) % S and replicates to the S cells
    * {(min(i,g), max(i,g)) : i < S}; a cross-salt pair meets in exactly
    * cell (min,max) and a same-salt pair only in cell (g,g) — every
    * pair generated exactly once, max task size ~2·|bucket|/S. The size
    * probe is a count window on the same key the expansion groups by,
    * so it rides the one existing shuffle. `residual` is extra SQL over
    * the pair struct `p` (member fields under `p.a` / `p.b`), applied
    * AT EXPANSION — rejected pairs never reach a verify join. Output:
    * member-struct columns `a`, `b` with a.<idField> < b.<idField>;
    * NOT deduplicated across buckets (callers `.distinct()`). */
  private[graft] def saltedPairExpansion(rows: DataFrame,
      bucketKeys: Seq[String], memberCols: Seq[Column], idField: String,
      residual: String = ""): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    graft.functions.GraftFunctions.ensureRegistered(s)
    val base = rows.select(
      (bucketKeys.map(col) :+ struct(memberCols: _*).as("mbr")): _*)
    val sized = base.withColumn("bsz",
      count(lit(1)).over(Window.partitionBy(bucketKeys.map(col): _*)))
    // Pair emission (r18, guide §4): the graft_pairs GENERATOR yields
    // each index pair (i<j) of the bucket array once — one generator
    // call per bucket row — replacing the nested
    // `flatten(transform(ds, x -> filter(transform(ds, y ->
    // named_struct(...)), pred)))` fold, which evaluated four
    // interpreted lambdas per ORDERED candidate pair and materialized
    // the full n² struct array before the explode. Orientation by id
    // (strict `<`; id-ties yield null and are dropped, exactly the
    // fold's `p.a.id < p.b.id` semantics) and the residual predicates
    // run as ordinary codegen'd Project/Filter nodes over the emitted
    // rows; the pair SET is unchanged (PairExpandSpec pins equality
    // against the literal composable form).
    def pairsOf(grouped: DataFrame, carry: Seq[String],
                extra: String): DataFrame = {
      val xid = col("x.mbr").getField(idField)
      val yid = col("y.mbr").getField(idField)
      val fwd = struct($"x.mbr".as("a"), $"y.mbr".as("b"),
        $"x.g".as("ga"), $"y.g".as("gb"))
      val rev = struct($"y.mbr".as("a"), $"x.mbr".as("b"),
        $"y.g".as("ga"), $"x.g".as("gb"))
      grouped
        .select((carry.map(col) :+
          call_function("graft_pairs", $"ds").as(Seq("x", "y"))): _*)
        .select((carry.map(col) :+
          when(xid < yid, fwd).when(yid < xid, rev).as("p")): _*)
        .filter(expr(s"p IS NOT NULL$residual$extra"))
    }
    val small = pairsOf(
      sized.filter($"bsz" <= BucketCap)
        .withColumn("g", lit(0))
        .groupBy(bucketKeys.map(col): _*)
        .agg(collect_list(struct($"mbr", $"g")).as("ds"))
        .filter(size($"ds") > 1),
      Seq.empty, "")
    val big = pairsOf(
      sized.filter($"bsz" > BucketCap)
        .withColumn("g", pmod(hash(col(s"mbr.$idField")), lit(PairSalts)))
        .select((bucketKeys.map(col) ++ Seq($"mbr", $"g", explode(expr(
          s"transform(sequence(0, ${PairSalts - 1}), " +
            "i -> struct(least(i, g) AS ci, greatest(i, g) AS cj))")).as("cell"))): _*)
        .withColumn("ci", $"cell.ci").withColumn("cj", $"cell.cj")
        .groupBy((bucketKeys :+ "ci" :+ "cj").map(col): _*)
        .agg(collect_list(struct($"mbr", $"g")).as("ds"))
        .filter(size($"ds") > 1),
      Seq("ci", "cj"), " AND (p.ga <> p.gb OR ci = cj)")
      .select($"p")
    small.select($"p").union(big).select($"p.a".as("a"), $"p.b".as("b"))
  }

  /** Verified near-dup pairs, unordered — persisted and shared between
    * d05 (which just orders it) and d09 (which runs components over it),
    * so the candidate expansion + exact-Jaccard verify run once per
    * session, not once per query. */
  private def ngramPairs(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "ngram_pairs") {
      import s.implicits._
      val docs = cached(s, dir, "ngram_docs") {
        shingleRelation(t(s, dir, "documents"))
      }
      verifiedNgramPairs(docs)
    }

  /** `(doc_id, bkt, shingles)` over a documents-shaped relation — the
    * unit the near-dup pipeline (and the d11 persisted index) stores. */
  private[graft] def shingleRelation(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents
      .filter(size(split($"text", " ")) >= 3)
      .select($"doc_id", (floor($"n_chars" / 64)).as("bkt"),
        hashedShingles($"text").as("shingles"))
  }

  /** The prefix-filtered candidate expansion + exact-Jaccard verify
    * over a `(doc_id, bkt, shingles)` relation. */
  private[graft] def verifiedNgramPairs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Prefix filtering (AllPairs/PPJoin): under a global element order
    // (ascending hash), any pair with jac >= t shares at least one
    // element inside both docs' prefixes of length |s| - ceil(t'*|s|) + 1.
    // t' = 0.499 < t keeps the filter lossless even for pairs whose true
    // jac sits just below 0.5 but ROUNDS to 0.5 in the final 6-dp check.
    // Candidates become "pairs sharing a rare prefix hash" — near-dup
    // density, not the quadratic length-bucket blowup (5.9M pairs at
    // sf0.1); the bucket adjacency condition rides as a residual.
    val pref = prefixRel(docs)
    val cand = saltedPairExpansion(pref, Seq("h"),
      Seq($"doc_id", $"bkt"), "doc_id",
      " AND (p.b.bkt = p.a.bkt OR p.b.bkt = p.a.bkt + 1)")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    verifyJaccard(cand, docs)
  }

  /** The PPJoin prefix relation (see [[verifiedNgramPairs]]): one row
    * per (doc, prefix shingle hash). */
  private def prefixRel(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", $"bkt",
      explode(slice(array_sort($"shingles"), lit(1),
        (size($"shingles") - ceil(size($"shingles") * 0.499) + 1)
          .cast("int"))).as("h"))
  }

  /** Exact-Jaccard verification of an unordered candidate pair set —
    * the tail shared by the symmetric and probe-side expansions. */
  private def verifyJaccard(cand: DataFrame, docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    cand
      .join(docs.select($"doc_id".as("doc_a"), $"shingles".as("sa")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"shingles".as("sb")), "doc_b")
      .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("double"))
      .withColumn("jac", round($"inter" /
        (size($"sa") + size($"sb") - $"inter"), 6))
      .filter($"jac" >= 0.5)
      .select($"doc_a", $"doc_b", $"jac")
  }

  /** INCREMENTAL near-dup pairs: same pair set as
    * [[verifiedNgramPairs]] restricted to "at least one side satisfies
    * `probePred`" (d11/st09's batch residual) — but with ASYMMETRIC
    * candidate generation: the probe side's prefixes equi-join the
    * full prefix relation, so expansion work is O(batch · bucket), not
    * the symmetric O(bucket²)-then-filter. This is the shape that
    * keeps nightly catch-up dedup proportional to the ARRIVING batch
    * at 100 TB: the standing corpus is join TARGET, never pairwise
    * enumerated against itself. Pair normalization (a = min id) plus
    * the length-bucket adjacency rule reproduce the symmetric
    * expansion's candidates exactly; batch-batch pairs arrive twice
    * (once from each side's probe row) and collapse in the distinct. */
  private[graft] def verifiedNgramPairsProbe(docs: DataFrame,
      probePred: Column): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pref = prefixRel(docs)
    // the probe side expands its OWN filtered scan — the predicate
    // pushes below the shingle sort/explode, so this pass reads only
    // the batch slice; deriving bp by filtering `pref` instead would
    // run the full-corpus expansion twice (Spark does not dedupe the
    // shared pre-exchange subtree)
    val bp = prefixRel(docs.filter(probePred))
      .select($"doc_id".as("p_id"), $"bkt".as("p_bkt"), $"h")
    val cand = bp.join(pref, Seq("h"))
      .filter($"p_id" =!= $"doc_id")
      .select(
        least($"p_id", $"doc_id").as("doc_a"),
        greatest($"p_id", $"doc_id").as("doc_b"),
        when($"p_id" < $"doc_id", $"p_bkt").otherwise($"bkt").as("bka"),
        when($"p_id" < $"doc_id", $"bkt").otherwise($"p_bkt").as("bkb"))
      .filter($"bkb" === $"bka" || $"bkb" === $"bka" + 1)
      .select($"doc_a", $"doc_b")
      .distinct()
    verifyJaccard(cand, docs)
  }

  /** Near-dup CLUSTERING: connected components over the d05 near-dup
    * pair graph, so each duplicate cluster keeps exactly one
    * representative (the min doc_id) — the step that turns pairwise
    * near-dup detection into an actual dedup decision.
    *
    * Components by iterative min-label propagation: every round each
    * node takes the min label among itself and its neighbors — one
    * equi-join + one min-aggregate per round, converging in
    * O(component diameter) rounds. Near-dup clusters are small and
    * dense (diameter 2-3 even at corpus scale), so the round count is
    * tiny and NOT a function of corpus size; each round's shuffle is
    * O(edges). `localCheckpoint` truncates the growing lineage so round
    * N's plan doesn't replay rounds 1..N-1 — the standard Spark
    * iterative-graph pattern (large-star/small-star reduces to the same
    * joins when diameters are bounded). */
  def d09DedupClusters(s: SparkSession, dir: String): DataFrame =
    labelSummary(ngramLabels(s, dir))

  /** session-cached component labels over the n-gram pair graph — the
    * eager propagation loop runs once per session, shared by d09's
    * summary and d24's representative selection. */
  private def ngramLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cached(s, dir, "ngram_labels") {
      connectedComponents(ngramPairs(s, dir).select($"doc_a", $"doc_b"))
    }
  }

  /** Most members a cluster summary row will list verbatim; the rest are
    * counted in `n_overflow`. A degenerate boilerplate cluster at 100 TB
    * would otherwise put millions of ids into ONE row's collect_list. */
  private[graft] val MaxMembers = 100

  /** (cluster_rep, n_members, members, n_overflow) summary over a pair
    * graph: components via [[connectedComponents]], then the first
    * [[MaxMembers]] member ids (by id order) joined into `members` and
    * the remainder only COUNTED. The rank runs on the same `lbl` key the
    * aggregate groups by, so the window adds no extra shuffle, and rows
    * past the cap become nulls BEFORE collect_list — the agg buffer is
    * bounded, not truncated after the fact. */
  private[graft] def clusterSummary(pairs: DataFrame): DataFrame =
    labelSummary(connectedComponents(pairs))

  private[graft] def labelSummary(labels: DataFrame): DataFrame = {
    val s = labels.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"lbl").orderBy($"doc")
    labels
      .withColumn("rn", row_number().over(w))
      .groupBy($"lbl".as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        array_join(transform(
          array_sort(collect_list(when($"rn" <= MaxMembers, $"doc"))),
          x => x.cast("string")), ",").as("members"),
        sum(when($"rn" > MaxMembers, 1L).otherwise(0L)).as("n_overflow"))
      .orderBy($"cluster_rep")
  }

  /** Connected components of an undirected pair graph: (doc, lbl) with
    * lbl = min doc_id in the component. See [[d09DedupClusters]] for the
    * per-round cost analysis. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val Seq(a, b) = pairs.columns.toSeq
    val edges = pairs.select(col(a).as("src"), col(b).as("dst"))
      .union(pairs.select(col(b).as("src"), col(a).as("dst")))
      .localCheckpoint(true)
    var labels = edges.select($"src".as("doc")).distinct()
      .withColumn("lbl", $"doc").localCheckpoint(true)
    var changed = 1L
    while (changed > 0) {
      val prop = edges
        .join(labels.withColumnRenamed("doc", "src"), "src")
        .select($"dst".as("doc"), $"lbl")
        .union(labels)
        .groupBy($"doc").agg(min($"lbl").as("next_lbl"))
      val stepped = labels.join(prop, "doc")
        .select($"doc", $"lbl", $"next_lbl").localCheckpoint(true)
      changed = stepped.filter($"next_lbl" < $"lbl").count()
      labels = stepped.select($"doc", $"next_lbl".as("lbl"))
    }
    labels
  }

  /** SEMANTIC dedup (SemDeDup shape): connected components over the s05
    * embedding near-dup graph — documents whose EMBEDDINGS collide in
    * an LSH band and verify at cosine ≥ threshold cluster together, and
    * each cluster keeps its min-vec_id representative. Completes the
    * dedup ladder: exact (d01) → lexical near-dup (d03/d05/d09) →
    * semantic (this). Same O(diameter)-round propagation as d09; the
    * edge set comes from the banded equi-join, so the whole pipeline's
    * width tracks near-dup density, never corpus². */
  def d10SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clusterSummary(SimilarityQueries.s05Pairs(s, dir)
      .select($"vec_a", $"vec_b"))
  }

  // a shingle is "boilerplate" when it appears in at least this many
  // distinct documents (mirrored verbatim in the d12 oracle)
  private val BoilerplateMinDocs = 5
  // a document is flagged when at least this fraction of its distinct
  // shingles are boilerplate
  private val BoilerplateFlagFrac = 0.2

  /** BOILERPLATE detection (RefinedWeb/CCNet shape): find word-3-grams
    * shared by ≥ [[BoilerplateMinDocs]] distinct documents — headers,
    * footers, templates — and report, per (lang, source), how much of
    * each document that boilerplate covers.
    *
    * Scale shape: per-doc DISTINCT hashed shingles are one projection
    * (no shuffle); the corpus-wide frequency count is ONE hash-aggregate
    * over the exploded shingles with map-side partial counts; the
    * frequent set is tiny relative to the corpus (it's the set of
    * near-universal templates) and BROADCASTS back onto the per-doc
    * rows, so the coverage join never shuffles the corpus by shingle.
    * At 100 TB the only wide stage is the frequency aggregate, whose
    * reduce side is |distinct shingles|, not |corpus|. */
  def d12BoilerplateNgrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the shingled corpus feeds TWO subtrees (frequency count +
    // coverage); cached so the scan + md5 shingling run once per
    // session, not per subtree
    val docs = boilerDocs(s, dir)
    val exploded = docs.select($"doc_id", $"lang", $"source",
      size($"gs").as("n_grams"), explode($"gs").as("g"))
    val freq = frequentShingles(docs)
    // every filtered doc has >= 1 distinct shingle, so the exploded
    // relation loses no documents — a LEFT join against the broadcast
    // frequent set covers the whole corpus in ONE pass (no third scan
    // to re-attach zero-coverage docs)
    exploded
      .join(broadcast(freq), Seq("g"), "left")
      .groupBy($"doc_id", $"lang", $"source", $"n_grams")
      .agg(count($"hit").as("n_boiler"))
      .withColumn("frac", $"n_boiler".cast("double") / $"n_grams")
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_boiler").as("total_boiler_grams"),
        round(avg($"frac"), 6).as("avg_boiler_frac"),
        count(when($"frac" >= BoilerplateFlagFrac, 1)).as("n_flagged"))
      .orderBy($"lang", $"source")
  }

  /** The shingled-corpus relation d12/d14 share: (doc_id, lang, source,
    * gs = DISTINCT hashed 3-grams), cached per session. */
  private def boilerDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cached(s, dir, "boiler_docs") {
      t(s, dir, "documents")
        .filter(size(split($"text", " ")) >= 3)
        .select($"doc_id", $"lang", $"source", hashedShingles($"text").as("gs"))
    }
  }

  /** Hashes of shingles appearing in ≥ [[BoilerplateMinDocs]] distinct
    * documents, with a constant `hit` marker column for LEFT joins. */
  private def frequentShingles(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(explode($"gs").as("g"))
      .groupBy($"g").agg(count(lit(1)).as("n_docs_with"))
      .filter($"n_docs_with" >= BoilerplateMinDocs)
      .select($"g", lit(1).as("hit"))
  }

  /** SUBSTRING-scrub coverage (the removal-stats twin of d12,
    * approximating exact-substring dedup, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): how many TOKEN
    * POSITIONS would deleting every frequent 3-gram occurrence remove?
    * Positional grams (not the per-doc distinct set) join the broadcast
    * frequent set; each hit covers its 3 token positions; overlapping
    * windows union via a distinct count. Reported per (lang, source)
    * with docs touched and the mean covered fraction.
    *
    * Scale shape: identical to d12 — one positional explode over the
    * corpus, broadcast frequent set, per-doc aggregate; the covered-
    * position explode is 3× the HIT count (near-dup density, not
    * corpus size). */
  def d14SubstringScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val freq = frequentShingles(boilerDocs(s, dir))
    val base = t(s, dir, "documents")
      .withColumn("words", split($"text", " "))
      .filter(size($"words") >= 3)
    val posGrams = base.select($"doc_id",
      posexplode(transform(
        sequence(lit(0), size($"words") - 3),
        i => h32(concat_ws(" ", slice($"words", i + 1, lit(3))))))
        .as(Seq("p", "g")))
    val covered = posGrams
      .join(broadcast(freq.select($"g")), Seq("g"))
      .select($"doc_id", explode(sequence($"p", $"p" + 2)).as("cp"))
      .groupBy($"doc_id").agg(countDistinct($"cp").as("covered"))
    base.select($"doc_id", $"lang", $"source",
      size($"words").cast("long").as("n"))
      .join(covered, Seq("doc_id"), "left")
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        count($"covered").as("docs_touched"),
        sum($"n").as("tokens_total"),
        sum(coalesce($"covered", lit(0L))).as("tokens_covered"),
        round(avg(coalesce($"covered", lit(0L)).cast("double") / $"n"), 6)
          .as("avg_cover_frac"))
      .orderBy($"lang", $"source")
  }

  /** Benchmark decontamination: flag corpus documents sharing any
    * 3-gram shingle with a held-out benchmark set (every 50th doc
    * stands in for the eval suite). The benchmark's distinct shingle
    * hashes are BROADCAST — eval suites are tiny next to a training
    * corpus, so the corpus side stays a projection + explode with one
    * per-doc aggregate and never shuffles against the benchmark. The
    * shape of eval-contamination filtering at 100 TB. */
  def d08Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val bench = docs.filter($"doc_id" % 50 === 0)
      .select(explode(hashedShingles($"text")).as("sh")).distinct()
    val corpus = docs.filter($"doc_id" % 50 =!= 0)
    val stream = corpus
      .select($"doc_id", explode(hashedShingles($"text")).as("sh"))
    decontaminationReport(corpus, stream, bench)
  }

  /** Shared d08/d18 tail: exact verify of a (doc_id, sh) candidate
    * stream against the broadcast benchmark shingle set, then the
    * per-lang contamination report. One definition because BOTH entries
    * hash-match the same `decontaminateOracle` — a shape change here
    * must move both or the shared oracle catches the divergence. */
  private def decontaminationReport(corpus: DataFrame, stream: DataFrame,
                                    bench: DataFrame): DataFrame = {
    import corpus.sparkSession.implicits._
    val hits = stream
      .join(broadcast(bench), "sh")
      .groupBy($"doc_id").agg(countDistinct($"sh").as("n_shared"))
    corpus.select($"doc_id", $"lang")
      .join(hits, Seq("doc_id"), "left")
      .groupBy($"lang").agg(
        count(lit(1)).as("n_docs"),
        count($"n_shared").as("n_contaminated"),
        sum(coalesce($"n_shared", lit(0L))).as("total_shared"))
      .orderBy($"lang")
  }

  /** BLOOM-PREFILTERED decontamination (d18): d08's exact answer
    * through Spark's own runtime-filter machinery, hand-placed. The
    * benchmark shingle set is sketched into a driver-side bloom filter
    * (the same bounded footprint as Spark's InjectRuntimeFilter
    * materializing a runtime filter on the driver), inlined as a BINARY
    * literal, and probed by the codegen'd `BloomFilterMightContain`
    * predicate over the exploded corpus shingles BEFORE the broadcast
    * verify join. False positives pass the prefilter and die in the
    * exact join; false negatives cannot happen — so the result is
    * bit-identical to d08 and shares its oracle. The 100 TB point: the
    * probe runs inside the scan stage's codegen loop and drops the
    * overwhelmingly-clean shingle stream before ANY join machinery —
    * the explicit form of the runtime filtering Spark only injects for
    * shuffle joins, and the shape that stays cheap when the benchmark
    * set outgrows a broadcast hash table (a bloom is ~10 bits/item vs
    * ~100+ bytes/entry). */
  /** The benchmark's distinct shingle set — the decontamination probe
    * side, cached once per session and shared by d18 and the streaming
    * st08 (same filter, same shingles: the stream must flag exactly the
    * documents the batch pass flags). */
  private[graft] def benchShingleRel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cached(s, dir, "d18_bench") {
      t(s, dir, "documents").filter($"doc_id" % 50 === 0)
        .select(explode(hashedShingles($"text")).as("sh")).distinct()
    }
  }

  def d18BloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.ensureRegistered(s)
    val docs = t(s, dir, "documents")
    val bench = benchShingleRel(s, dir)
    val corpus = docs.filter($"doc_id" % 50 =!= 0)
    // size the sketch from the actual benchmark cardinality (a count
    // over the persisted small side): a fixed capacity would silently
    // degrade the fpp — and the prefilter's selectivity — as the
    // benchmark set grows
    val bloom = bench.select(xxhash64($"sh").as("h"))
      .stat.bloomFilter("h", math.max(bench.count(), 1024L), 0.01)
    val bytes = {
      val os = new java.io.ByteArrayOutputStream()
      bloom.writeTo(os)
      os.toByteArray
    }
    val stream = corpus
      .select($"doc_id", explode(hashedShingles($"text")).as("sh"))
      .filter(call_function("graft_might_contain", lit(bytes),
        xxhash64($"sh")))
    decontaminationReport(corpus, stream, bench)
  }

  /** BLOCKED FUZZY JOIN (d16): entity resolution over a string domain —
    * near-identical part names matched by edit distance. The two scale
    * moves: (1) resolution runs over the DISTINCT value domain, not the
    * row corpus — at 100 TB the name domain is orders of magnitude
    * smaller than the table, and the row→domain map is the d01 hash
    * aggregate; (2) candidates come from an equi-join on a BLOCKING key
    * (here the type token — the last word), never an all-pairs
    * levenshtein: the quadratic work is per-block, bounded by block
    * width. Blocking is part of the operator's declared semantics (the
    * oracle applies the identical predicate), as in any production ER
    * pipeline — a cross-block match is out of contract by design. */
  def d16FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val MaxDist = 4
    val names = t(s, dir, "part").select($"p_name").distinct()
      .withColumn("blk", element_at(split($"p_name", " "), -1))
    val a = names.select($"blk", $"p_name".as("name_a"))
    val b = names.select($"blk", $"p_name".as("name_b"))
    a.join(b, "blk")
      .filter($"name_a" < $"name_b")
      .withColumn("dist", levenshtein($"name_a", $"name_b").cast("long"))
      .filter($"dist" <= MaxDist)
      .select($"blk", $"name_a", $"name_b", $"dist")
      .orderBy($"blk", $"name_a", $"name_b")
  }


  /** CLUSTER REPRESENTATIVE SELECTION (d24): APPLY the near-dup
    * clustering — keep exactly one document per d09 cluster, chosen by
    * a quality score, drop the rest — the step that turns "we found the
    * duplicate clusters" into an actual curated corpus (production
    * near-dedup keeps the best-quality member, not an arbitrary one:
    * Lee et al. 2022 §4, SemDeDup §3). The score is the d19 fixed-point
    * contract applied to t02's signals: integer centi-units of average
    * word length minus the stopword-rate penalty — an ARGMAX over
    * floats could flip on a last-ulp engine difference, an integer
    * score cannot. Winner per cluster = max (score, then min doc_id), a
    * STRUCT-MAX AGGREGATE, never a cluster-wide ranking window.
    *
    * Scale shape: scoring is a pure projection; components come from
    * the cached pair graph (one build per session, shared with d09);
    * the winner aggregate and the drop join are keyed on the cluster
    * label whose width is the CLUSTERED doc count, not the corpus; the
    * report is one aggregate per lang. */
  private val TestTenths = 2 // 20% of GROUPS land in test

  /** LEAKAGE-SAFE TRAIN/TEST SPLIT (d25): assign every document to
    * train or test ATOMICALLY BY NEAR-DUP CLUSTER — the step after
    * detection (d03/d05) and clustering (d09) that a benchmark pipeline
    * actually needs: a random per-document split leaks near-duplicates
    * of test documents into train, inflating eval scores (the
    * contamination d08/d18 scrub AFTER the fact; splitting group-wise
    * prevents it by construction). Group key = the document's d09
    * component label, or its own id for singletons; the split decision
    * reads the HIGH bits of a golden-ratio multiplicative hash of the
    * group key — exact BIGINT math in both engines, reproducible under
    * retry (production swaps in md5, d06's note). Output pins the
    * claim: `n_cross_pairs`
    * counts verified near-dup pairs straddling the split — zero by
    * construction, and COMPUTED, not asserted.
    *
    * Scale shape: labels come from the session-cached component
    * relation (shared with d09/d24); the split is a pure projection
    * over it; the cross check joins the cached pair list (O(pairs))
    * against the per-doc split by id; the report is one aggregate. */
  def d25LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cached: three consumers (both cross-check sides + the final
    // aggregate) read ONE scan + label join + split projection
    val grouped = cached(s, dir, "d25_grouped") {
      val labels = ngramLabels(s, dir).withColumnRenamed("doc", "doc_id")
      t(s, dir, "documents")
        .select($"doc_id", size(split($"text", " ")).cast("long").as("toks"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("grp", coalesce($"lbl", $"doc_id"))
      // HIGH bits of the multiplicative hash, not the raw residue: the
      // low decimal digits of grp * odd-constant degenerate (a
      // multiplier ending in 5 makes `% 10` hit only {0,5} — a 50/50
      // odd/even split, not the declared 20%). Dividing by 4096 first
      // reads well-mixed bits; exact BIGINT math in both engines.
      // grp is folded to 31 bits BEFORE the multiply: 2^31 * 2654435761
      // ≈ 5.7e18 stays inside BIGINT, whereas a raw 100TB-scale id
      // would overflow — Spark wraps silently (negative residues skew
      // the split) while DuckDB raises. Identity for grp < 2^31.
      .withColumn("split",
        when(expr(s"(((grp % 2147483648) * 2654435761 + 12345) div 4096) % 10")
          < TestTenths, "test")
          .otherwise("train"))
    }
    val ga = grouped.select($"doc_id".as("doc_a"), $"split".as("split_a"))
    val gb = grouped.select($"doc_id".as("doc_b"), $"split".as("split_b"))
    val cross = ngramPairs(s, dir).select($"doc_a", $"doc_b")
      .join(ga, "doc_a").join(gb, "doc_b")
      .agg(count(when($"split_a" =!= $"split_b", 1)).as("n_cross_pairs"))
    grouped.groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"grp").as("n_groups"),
        sum($"toks").as("n_tokens"))
      .crossJoin(broadcast(cross))
      .select($"split", $"n_docs", $"n_groups", $"n_tokens",
        $"n_cross_pairs")
      .orderBy($"split")
  }

  def d24KeepBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .withColumn("words", split($"text", " "))
      .withColumn("n_words", size($"words").cast("long"))
      .withColumn("n_stop",
        size(filter($"words", w => w === "the" || w === "a")).cast("long"))
      .withColumn("score", expr(
        "((length(text) - n_words + 1) * 100 div n_words)" +
          " - (n_stop * 100 div n_words)"))
      .select($"doc_id", $"lang", $"n_words", $"score")
    val labels = ngramLabels(s, dir).withColumnRenamed("doc", "doc_id")
    val clustered = docs.join(labels, "doc_id")
    val winners = clustered.groupBy($"lbl")
      .agg(max(struct($"score", (-$"doc_id").as("negid"))).as("w"))
      .select($"lbl", (-$"w.negid").as("keep_id"))
    val drops = clustered.join(winners, "lbl")
      .filter($"doc_id" =!= $"keep_id")
      .select($"lang", $"n_words")
    val perLangAll = docs.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("tokens_total"))
    val perLangClustered = clustered.groupBy($"lang")
      .agg(count(lit(1)).as("n_clustered"))
    val perLangDropped = drops.groupBy($"lang")
      .agg(count(lit(1)).as("n_dropped"),
        sum($"n_words").as("tokens_dropped"))
    perLangAll
      .join(perLangClustered, Seq("lang"), "left")
      .join(perLangDropped, Seq("lang"), "left")
      .select($"lang", $"n_docs",
        coalesce($"n_clustered", lit(0L)).as("n_clustered"),
        coalesce($"n_dropped", lit(0L)).as("n_dropped"),
        $"tokens_total",
        coalesce($"tokens_dropped", lit(0L)).as("tokens_dropped"))
      .orderBy($"lang")
  }

  private val SubstrL = 8 // minimum repeat length in tokens (Lee et al.'s 50, scaled)

  /** EXACT SUBSTRING DEDUP (d20): remove every repeated token span of
    * length >= [[SubstrL]] from all but its first corpus occurrence —
    * the Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better" exact-substring stage, the last rung of the dedup
    * ladder (t16 dedups FIXED 8-word segments on aligned boundaries;
    * this catches repeats at ANY offset and ANY length >= L).
    *
    * The suffix-array formulation distributes via the window-cover
    * identity: a token position is inside a repeated span of length
    * >= L iff some length-L window covering it occurs >= 2 times in
    * the corpus. So the operator (1) emits EVERY stride-1 length-L
    * window (one row per token position — the distributed analogue of
    * the suffix array's sorted-adjacent comparison), (2) keeps the
    * first occurrence of each duplicated window content (min encoded
    * position pk = doc_id*2^20+p — corpus order; the 2^20 stride keeps
    * the encoding alias-free for documents up to ~1M tokens), and (3)
    * removes
    * the union of token positions covered by non-first duplicate
    * windows. Documents shorter than L have no window and survive
    * intact.
    *
    * Scale shape: windows are a pure projection (posexplode — no
    * shuffle); the duplicate test is ONE hash-aggregate on the window
    * key with map-side partial combines; the cover explode runs ONLY
    * on non-first duplicated occurrences, so its width is L x
    * duplicated-text volume, not corpus volume; and the windows
    * relation is cached so the aggregate and the join-back share one
    * materialization (pinned in PlanShapeSpec). The window key on the
    * aggregate and the join-back is the 64-bit xxhash of the span, not
    * the span string — the DevScale ×50 probe showed the string key
    * shipping ~7× the bytes (window text dominating the dup-window
    * shuffle); the hash key is collision-negligible at 2^64 and the
    * DuckDB oracle keeps the transparent string spelling (identical
    * result absent a 64-bit collision, which the gate verifies).
    * Reference anchor: BASELINE.json `north_star` dedup mandate;
    * SURVEY.md §2.3. */
  def d20ExactSubstringDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "documents")
      .select($"doc_id", $"lang", $"source", split($"text", " ").as("words"))
    val wins = cached(s, dir, "d20_wins") {
      base.filter(size($"words") >= SubstrL)
        .select($"doc_id",
          posexplode(transform(
            sequence(lit(0), size($"words") - SubstrL),
            i => concat_ws(" ", slice($"words", i + 1, lit(SubstrL)))))
            .as(Seq("p", "win")))
        .withColumn("wh", xxhash64($"win")).drop("win")
        .withColumn("pk", $"doc_id" * 1048576L + $"p")
    }
    val dup = wins.groupBy($"wh")
      .agg(min($"pk").as("wk"), count(lit(1)).as("c"))
      .filter($"c" >= 2).drop("c")
    val removed = wins.join(dup, "wh")
      .filter($"pk" > $"wk")
      .select($"doc_id",
        explode(sequence($"p", $"p" + SubstrL - 1)).as("pos"))
      .distinct()
    val perDoc = removed.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_removed"))
    base.select($"doc_id", $"lang", $"source", size($"words").as("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").cast("long").as("tokens_total"),
        sum(coalesce($"n_removed", lit(0L))).as("tokens_removed"),
        sum(when(coalesce($"n_removed", lit(0L)) > 0, 1L).otherwise(0L))
          .as("docs_affected"))
      .orderBy($"lang", $"source")
  }

  /** DEDUP-SCHEME RECALL EVALUATION (d21): recall of the two
    * candidate-generation schemes — MinHash banding (d03) and
    * length-blocked expansion (d05) — against the exact all-pairs
    * Jaccard ground truth at each scheme's own threshold. The s10
    * pattern applied to dedup: a banding scheme without a measured
    * recall number is a guess about how much duplication survives it.
    * Both "found" sides are the EXISTING query definitions composed,
    * so what gets measured is exactly what d03/d05 ship.
    *
    * Scale shape: the ground truth is all-pairs SEMANTICS, but not an
    * all-pairs JOIN — it runs as an exact prefix-filtered set-similarity
    * join (Chaudhuri et al. 2006 prefix filtering; Vernica et al. 2010's
    * MapReduce formulation): if J(A,B) >= t then, under any single global
    * token order, the (|A| - ceil(t*|A|) + 1)-length prefixes of A and B
    * share a token, because |A∩B| >= t*|A∪B| >= ceil(t*max(|A|,|B|)).
    * Tokens are ordered rarest-first (corpus frequency, then token), so
    * candidate generation is an equi-join on rare prefix tokens and the
    * exact Jaccard verify touches candidates only — the same bounded-by-
    * pair-output shape as d03/d05, with NO cartesian anywhere (pinned in
    * PlanShapeSpec). The prefix order affects only which candidates are
    * generated, never the verified result, so the DuckDB oracle keeps the
    * transparent quadratic spelling — identical output by the exactness
    * of the filter. */
  // weakest threshold any consumer evaluates; the prefix filter is
  // sized to it, so truth below this is INCOMPLETE by construction
  private val D21TruthTh = 0.5

  /** EXACT near-dup ground truth `(da, db, jac)` with jac >=
    * [[D21TruthTh]] — the prefix-filtered set-similarity join (Vernica
    * et al.: rarest-first prefixes + PPJoin length filter + exact
    * verify), session-cached and shared by d21's scheme recalls and
    * d26's band/row sweep, so the expensive exact pass (bounded by
    * true-pair volume, never corpus²) runs once per session. */
  private[ext] def d21TruthRel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val TruthTh = D21TruthTh
    val docs = cached(s, dir, "minhash_docs") {
      t(s, dir, "documents")
        .filter(size(split($"text", " ")) >= 3)
        .select($"doc_id", hashedShingles($"text").as("hs"))
    }
    val tok = docs.select($"doc_id", size($"hs").as("n"),
      explode($"hs").as("h"))
    val freq = tok.groupBy($"h").agg(count(lit(1)).as("c"))
    val byRarity = Window.partitionBy($"doc_id").orderBy($"c", $"h")
    val prefix = tok.join(freq, "h")
      .withColumn("r", row_number().over(byRarity))
      .filter($"r" <= $"n" - ceil(lit(TruthTh) * $"n") + 1)
      .select($"doc_id", $"n", $"h")
    // PPJoin's length filter inside the candidate join: J(A,B) >= t
    // forces t*max(|A|,|B|) <= |A∩B| <= min(|A|,|B|), so set sizes must
    // agree within factor t — pruned BEFORE the pair materializes (a
    // common token shared by one short and many long documents
    // otherwise floods the candidate set with pairs the verify would
    // only discard).
    val cand = prefix.select($"doc_id".as("da"), $"n".as("na"), $"h")
      .join(prefix.select($"doc_id".as("db"), $"n".as("nb"), $"h"), "h")
      .filter($"da" < $"db" &&
        $"nb" >= ceil(lit(TruthTh) * $"na") &&
        $"na" >= ceil(lit(TruthTh) * $"nb"))
      .select($"da", $"db").distinct()
    val a = docs.select($"doc_id".as("da"), $"hs".as("sa"))
    val b = docs.select($"doc_id".as("db"), $"hs".as("sb"))
    val inter = size(array_intersect($"sa", $"sb")).cast("double")
    cached(s, dir, "d21_truth") {
      cand.join(a, "da").join(b, "db")
        .withColumn("jac",
          round(inter / (size($"sa") + size($"sb") - inter), 6))
        .filter($"jac" >= TruthTh)
        .select($"da", $"db", $"jac")
    }
  }

  def d21DedupRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val TruthTh = D21TruthTh
    // persisted: BOTH schemes' recalls read the same truth relation —
    // without the cache the candidate generation + exact verify (the
    // expensive pass, bounded by true-pair volume) would run once per
    // evaluated scheme
    val truthAll = d21TruthRel(s, dir)
    def recallOf(scheme: String, truthTh: Double,
                 found: DataFrame): DataFrame = {
      // truthAll is truncated at TruthTh by construction — a lower
      // threshold would silently score recall against INCOMPLETE truth
      require(truthTh >= TruthTh,
        s"ground truth only covers jaccard >= $TruthTh; got $truthTh")
      truthAll.filter($"jac" >= truthTh).select($"da", $"db")
        .join(found.withColumn("hit", lit(1)), Seq("da", "db"), "left")
        .agg(count(lit(1)).as("n_true"), count($"hit").as("n_found"))
        .select(lit(scheme).as("scheme"), $"n_true", $"n_found")
    }
    recallOf("blocked_ngram", 0.5, d05NgramJaccard(s, dir)
        .select($"doc_a".as("da"), $"doc_b".as("db")))
      .unionByName(recallOf("minhash_lsh", JaccardThreshold,
        d03MinHashLsh(s, dir).select($"doc_a".as("da"), $"doc_b".as("db"))))
      .withColumn("recall_bp", expr(
        "case when n_true = 0 then 10000 else n_found * 10000 div n_true end"))
      .orderBy($"scheme")
  }

  // (bands, rows-per-band) settings swept by d26; every arm spends the
  // same NumHashes=16 signature values, so the sweep isolates the
  // banding TRADE-OFF (P[candidate] = 1-(1-j^r)^b) from signature cost
  private val BandSweepArms = Seq((2, 8), (4, 4), (8, 2), (16, 1))

  /** MINHASH BAND/ROW SWEEP (d26): the lexical mirror of s15's IVF
    * probe sweep — recall against the EXACT near-dup truth
    * ([[d21TruthRel]], jac >= [[JaccardThreshold]]) versus candidate-
    * pair volume, across LSH banding settings of the SAME 16-value
    * MinHash signature. (16,1) banding admits any single matching hash
    * (near-total recall, maximal candidate volume); (2,8) demands an
    * 8-hash run (few candidates, misses borderline pairs) — the curve
    * is the tuning surface an operator picks a dedup operating point
    * from, measured rather than estimated.
    *
    * Scale shape: the signature relation is computed ONCE
    * (session-cached, 16 integers per doc — never the shingle sets);
    * each arm derives its band keys by PROJECTION over that cache, so
    * the sweep adds ZERO corpus passes beyond the shared shingle/
    * signature work. Per-arm cost is the banding expansion itself —
    * bucket-local with skew salting ([[saltedPairExpansion]]), the
    * exact quantity the cand_pairs column reports — and the recall
    * join is bounded by true-pair volume, not corpus size. */
  def d26MinhashSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = cached(s, dir, "minhash_docs") {
      t(s, dir, "documents")
        .filter(size(split($"text", " ")) >= 3)
        .select($"doc_id", hashedShingles($"text").as("hs"))
    }
    val sig = cached(s, dir, "d26_sig") { minhashSig(s, docs) }
    val truth = d21TruthRel(s, dir)
      .filter($"jac" >= JaccardThreshold).select($"da", $"db")
    // ONE pass for all four arms (r18, guide §2.4): the arms used to be
    // four independent plan subtrees — 4× the band shuffle, expansion,
    // distinct, truth join, and aggregate, ~25 tiny stages whose
    // SCHEDULING (not data) was the measured wall. Tagging every band
    // key with its arm id and keying the bucket expansion by
    // (arm, band, band_key) computes the IDENTICAL per-arm candidate
    // sets (no cross-arm pairs can form — the arm is part of the bucket
    // key) through one expansion, one distinct, one truth join, and one
    // grouped aggregate. Per-arm rows, values, and the oracle are
    // unchanged.
    val armKeys = array(BandSweepArms.zipWithIndex.flatMap {
      case ((b, r), ai) => (0 until b).map { bi =>
        struct(lit(ai).as("arm"),
          concat_ws(",", (0 until r).map(ri => col(s"m${bi * r + ri}")): _*)
            .as("bk"))
      }
    }: _*)
    val bands = sig.select($"doc_id",
      posexplode(armKeys).as(Seq("band", "ab")))
      .select($"doc_id", $"ab.arm".as("arm"), $"band", $"ab.bk".as("band_key"))
    val cand = saltedPairExpansion(bands, Seq("arm", "band", "band_key"),
      Seq($"doc_id", $"arm"), "doc_id")
      .select($"a.arm".as("arm"), $"a.doc_id".as("da"), $"b.doc_id".as("db"))
      .distinct()
    // the truth set replicates once per arm (4 × |truth| tiny rows) so
    // one full-outer join + one grouped aggregate count candidate
    // volume, truth size, and overlap for every arm together
    val armRel = BandSweepArms.zipWithIndex.map { case ((b, r), ai) =>
      (ai, b.toLong, r.toLong)
    }.toDF("arm", "bands", "rows_per_band")
    val truthTagged = truth.withColumn("tru", lit(1))
      .crossJoin(armRel.select($"arm"))
    val perArm = cand.withColumn("hit", lit(1))
      .join(truthTagged, Seq("arm", "da", "db"), "full_outer")
      .groupBy($"arm")
      .agg(count($"hit").as("cp"),
        count($"tru").as("nt"),
        count(when($"hit" === 1 && $"tru" === 1, 1)).as("nf"))
    // LEFT from the arm relation: an arm with zero candidates AND zero
    // truth pairs must still emit its row (the original per-arm global
    // aggregate always produced one), as all-zero counts
    broadcast(armRel).join(perArm, Seq("arm"), "left")
      .select($"bands", $"rows_per_band",
        coalesce($"cp", lit(0L)).as("cand_pairs"),
        coalesce($"nt", lit(0L)).as("n_true"),
        coalesce($"nf", lit(0L)).as("n_found"))
      .withColumn("recall_bp",
        expr("case when n_true = 0 then 10000" +
          " else n_found * 10000 div n_true end"))
      .orderBy($"bands")
  }

  /** Contamination decision threshold: an eval document whose n-gram
    * CONTAINMENT in the training corpus reaches 70% is flagged — the
    * published large-LM decontamination rule (Chowdhery et al. 2022,
    * PaLM §8, "70% of its 8-grams"; here the corpus' word-trigram
    * shingles). */
  private val ContainmentBp = 7000L

  /** N-GRAM CONTAINMENT decontamination (d27): per EVAL document, the
    * fraction of its distinct n-grams that occur ANYWHERE in the
    * training corpus, plus the 70%-rule flag ([[ContainmentBp]]). d08
    * and d18 answer the training-side question (which training docs
    * share ANY n-gram); this is the eval-side RATIO — the quantity the
    * published decontamination rules actually threshold on, since a
    * single shared n-gram is noise but 70% containment is a leak.
    *
    * Scale shape: the eval shingle sets are 2% of the corpus, session-
    * cached and BROADCAST; the training corpus is ONE linear shingle
    * pass whose output is immediately semi-joined down to eval-set
    * matches (bounded by the eval shingle volume, never corpus-scale);
    * the per-eval aggregate runs over eval-bounded rows only. */
  def d27NgramContainment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    // (eval_id, sh): each held-out doc's distinct shingles (docs too
    // short to shingle are excluded on BOTH sides, the d03 contract)
    val evalSh = cached(s, dir, "d27_eval") {
      docs.filter($"doc_id" % 50 === 0 && size(split($"text", " ")) >= 3)
        .select($"doc_id".as("eval_id"),
          explode(hashedShingles($"text")).as("sh"))
    }
    // distinct eval shingles that occur anywhere in the training corpus
    // — bounded by the eval shingle volume after the broadcast probe
    val present = docs.filter($"doc_id" % 50 =!= 0)
      .select(explode(hashedShingles($"text")).as("sh"))
      .join(broadcast(evalSh.select($"sh").distinct()), Seq("sh"))
      .distinct()
    evalSh.join(present.withColumn("hit", lit(1)), Seq("sh"), "left")
      .groupBy($"eval_id")
      .agg(count($"sh").as("n_ngrams"), count($"hit").as("n_contained"))
      .withColumn("contained_bp",
        expr("n_contained * 10000 div n_ngrams"))
      .withColumn("flagged", ($"contained_bp" >= ContainmentBp))
      .orderBy($"eval_id")
  }

  /** CROSS-SOURCE OVERLAP MATRIX (d28): for every pair of sources, how
    * many distinct hashed shingles they SHARE plus the integer-bp
    * Jaccard — the corpus-composition diagnostic read before mixture
    * design and dedup prioritization (two mirrors of the same crawl
    * surface as a near-10000 bp pair; scraped quotation shows up as an
    * asymmetric low-Jaccard overlap). Shingles are the d03/d08 hashed
    * 3-gram sets, so "shared" means the same thing across the whole
    * dedup family. Only pairs sharing ≥1 shingle appear (inner-join
    * contract, mirrored in the oracle).
    *
    * Scale shape: ONE corpus shingling pass deduped into a distinct
    * (source, shingle) relation (hash-aggregate, partial combines
    * map-side); the pair join runs on that DEDUPED relation keyed by
    * shingle, so per-key fan-out is bounded by #sources² — never
    * documents² — and the matrix itself is ≤ sources²/2 rows with the
    * per-source totals broadcast onto it. */
  def d28SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val srcSh = cached(s, dir, "d28_src_sh") {
      t(s, dir, "documents")
        .select($"source", explode(hashedShingles($"text")).as("sh"))
        .distinct()
    }
    val totals = srcSh.groupBy($"source").agg(count(lit(1)).as("n"))
    srcSh.toDF("src_a", "sh")
      .join(srcSh.toDF("src_b", "sh"), Seq("sh"))
      .filter($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("shared_shingles"))
      .join(broadcast(totals.toDF("src_a", "n_a")), "src_a")
      .join(broadcast(totals.toDF("src_b", "n_b")), "src_b")
      .select($"src_a", $"src_b", $"shared_shingles",
        expr("shared_shingles * 10000 div (n_a + n_b - shared_shingles)")
          .as("jaccard_bp"))
      .orderBy($"src_a", $"src_b")
  }

  /** SOURCE NOVELTY (d29): how much genuinely NEW content each source
    * contributes — for every source, its distinct-shingle count and
    * how many of those shingles FIRST appear (by doc_id order) in a
    * document of that source, with the ratio in integer bp. The
    * marginal-contribution metric mixture design actually wants: d28's
    * overlap matrix says which sources overlap, this says who brought
    * the content first — a mirror crawl scores near-zero novelty
    * however large it is. First-occurrence attribution is exact
    * (min doc_id per shingle, ties impossible within one corpus scan).
    *
    * Scale shape: one explode pass into a per-shingle min-doc
    * aggregate (map-side partial, the shuffle carries the shingle
    * vocabulary); attribution is ONE equi-join of that vocabulary-
    * sized relation against the skinny (doc_id, source) projection;
    * per-source totals REUSE d28's cached distinct (source, shingle)
    * relation — zero additional corpus passes for the denominator. */
  def d29SourceNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val firstDoc = docs
      .select($"doc_id", explode(hashedShingles($"text")).as("sh"))
      .groupBy($"sh").agg(min($"doc_id").as("first_doc"))
    val novel = firstDoc
      .join(docs.select($"doc_id".as("first_doc"), $"source"), "first_doc")
      .groupBy($"source").agg(count(lit(1)).as("novel_shingles"))
    val totals = cached(s, dir, "d28_src_sh") {
      docs.select($"source", explode(hashedShingles($"text")).as("sh"))
        .distinct()
    }.groupBy($"source").agg(count(lit(1)).as("distinct_shingles"))
    totals.join(novel, Seq("source"), "left")
      .withColumn("novel_shingles", coalesce($"novel_shingles", lit(0L)))
      .select($"source", $"distinct_shingles", $"novel_shingles",
        expr("novel_shingles * 10000 div distinct_shingles")
          .as("novelty_bp"))
      .orderBy($"source")
  }

  /** DEDUP PLANNING (d30): what WOULD near-dup dedup delete — the
    * cluster-size histogram (how many clusters of each size), the rows
    * each size band would remove under keep-one-per-cluster, and the
    * corpus-wide removable fraction in integer bp — answered BEFORE
    * anyone runs the deletion, the x22/x23/x24 plan-first discipline
    * applied to the data plane (at 100 TB the dedup pass is itself a
    * major job; the plan says whether it pays). A histogram dominated
    * by huge clusters also flags boilerplate/mirror pathologies that
    * keep-first dedup would mishandle.
    *
    * Scale shape: composes the SESSION-CACHED d09/d24 component labels
    * — zero new corpus passes beyond the one count(*) denominator; the
    * histogram is two tiny aggregates over the cluster-size relation
    * with the one-row totals broadcast back on. */
  def d30DedupPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sizes = ngramLabels(s, dir)
      .groupBy($"lbl").agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy($"cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
    val totals = hist.agg(
      sum(($"cluster_size" - 1L) * $"n_clusters").as("removable"))
    val nDocs = t(s, dir, "documents").count()
    hist.crossJoin(broadcast(totals))
      .select($"cluster_size", $"n_clusters",
        ($"cluster_size" * $"n_clusters").as("docs_in_size"),
        (($"cluster_size" - 1L) * $"n_clusters").as("removable_in_size"),
        expr(s"removable * 10000 div ${math.max(nDocs, 1L)}")
          .as("total_removable_bp"))
      .orderBy($"cluster_size")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d30_dedup_plan" -> (d30DedupPlan _),
    "d29_source_novelty" -> (d29SourceNovelty _),
    "d28_source_overlap" -> (d28SourceOverlap _),
    "d27_ngram_containment" -> (d27NgramContainment _),
    "d26_minhash_sweep" -> (d26MinhashSweep _),
    "d25_leakage_safe_split" -> (d25LeakageSafeSplit _),
    "d24_keep_best" -> (d24KeepBest _),
    "d21_dedup_recall" -> (d21DedupRecall _),
    "d20_exact_substring_dedup" -> (d20ExactSubstringDedup _),
    "d18_bloom_decontaminate" -> (d18BloomDecontaminate _),
    "d16_fuzzy_join" -> (d16FuzzyJoin _),
    "d01_exact_dedup" -> (d01ExactDedup _),
    "d02_keep_first" -> (d02KeepFirst _),
    "d03_minhash_lsh" -> (d03MinHashLsh _),
    "d04_simhash" -> (d04SimHash _),
    "d05_ngram_jaccard" -> (d05NgramJaccard _),
    "d08_decontaminate" -> (d08Decontaminate _),
    "d09_dedup_clusters" -> (d09DedupClusters _),
    "d10_semantic_dedup" -> (d10SemanticDedup _),
    "d12_boilerplate_ngrams" -> (d12BoilerplateNgrams _),
    "d14_substring_scrub" -> (d14SubstringScrub _),
  )

  // ---- oracle SQL (DuckDB) ----

  private val shingleSql =
    """list_distinct(list_transform(
      |      range(1, len(string_split(text,' ')) - 1),
      |      i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))""".stripMargin

  /** DuckDB twin of [[hashedShingles]] — identical md5-prefix hash. */
  private[ext] val hashedShingleSql =
    s"""list_distinct(list_transform($shingleSql,
      |      s -> ('0x' || substring(md5(s), 1, 8))::BIGINT))""".stripMargin

  // d03/d05 as named vals: shared by their own oracle entries and by
  // d21's recall composition over both pair relations
  private lazy val d03OracleSql: String = {
    val sigExprs = (0 until NumHashes).map { j =>
      s"min((h * ${hashA(j)} + ${hashB(j)}) % $P) AS m$j"
    }.mkString(",\n      |    ")
    val bandSelects = (0 until NumHashes / BandSize).map { b =>
      val key = (0 until BandSize).map(r => s"m${b * BandSize + r}")
        .mkString("concat_ws(',', ", ", ", ")")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sig"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH docs AS (
      |  SELECT doc_id, $hashedShingleSql AS shingles
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |hashed AS (SELECT doc_id, unnest(shingles) AS h FROM docs),
      |sig AS (
      |  SELECT doc_id,
      |    $sigExprs
      |  FROM hashed GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.band_key = y.band_key
      |   AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b,
      |  round(len(list_intersect(da.shingles, db.shingles))::DOUBLE /
      |    (len(da.shingles) + len(db.shingles)
      |     - len(list_intersect(da.shingles, db.shingles))), 6) AS jac
      |FROM cand
      |JOIN docs da ON da.doc_id = doc_a
      |JOIN docs db ON db.doc_id = doc_b
      |WHERE round(len(list_intersect(da.shingles, db.shingles))::DOUBLE /
      |    (len(da.shingles) + len(db.shingles)
      |     - len(list_intersect(da.shingles, db.shingles))), 6) >= $JaccardThreshold
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  // d26: same signature SQL as d03, one band/cand CTE pair per sweep
  // arm, truth = the quadratic exact-Jaccard spelling at the 0.8
  // threshold (identical output to the Spark side's prefix-filtered
  // exact join). MATERIALIZED: sig/truth/cand are each read by several
  // consumers — inlining would re-run the corpus scoring per reference.
  private lazy val d26OracleSql: String = {
    val sigExprs = (0 until NumHashes).map { j =>
      s"min((h * ${hashA(j)} + ${hashB(j)}) % $P) AS m$j"
    }.mkString(",\n      |    ")
    val candCtes = BandSweepArms.map { case (b, r) =>
      val bandSelects = (0 until b).map { bi =>
        val key = (0 until r).map(ri => s"m${bi * r + ri}")
          .mkString("concat_ws(',', ", ", ", ")")
        s"SELECT doc_id, $bi AS band, $key AS band_key FROM sig"
      }.mkString("\n      |    UNION ALL ")
      s"""cand_$b AS MATERIALIZED (
        |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |  FROM ($bandSelects) x
        |  JOIN ($bandSelects) y
        |    ON x.band = y.band AND x.band_key = y.band_key
        |   AND x.doc_id < y.doc_id)""".stripMargin
    }.mkString(",\n")
    val armRows = BandSweepArms.map { case (b, r) =>
      s"""SELECT $b::BIGINT AS bands, $r::BIGINT AS rows_per_band,
        |  (SELECT count(*)::BIGINT FROM cand_$b) AS cand_pairs,
        |  (SELECT count(*)::BIGINT FROM truth08) AS n_true,
        |  (SELECT count(*)::BIGINT FROM truth08 t
        |     JOIN cand_$b c ON t.da = c.da AND t.db = c.db) AS n_found""".stripMargin
    }.mkString("\n      |UNION ALL ")
    s"""WITH docs AS MATERIALIZED (
      |  SELECT doc_id, $hashedShingleSql AS shingles
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |hashed AS (SELECT doc_id, unnest(shingles) AS h FROM docs),
      |sig AS MATERIALIZED (
      |  SELECT doc_id,
      |    $sigExprs
      |  FROM hashed GROUP BY doc_id),
      |truth08 AS MATERIALIZED (
      |  SELECT a.doc_id AS da, b.doc_id AS db
      |  FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      |  WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
      |      (len(a.shingles) + len(b.shingles)
      |       - len(list_intersect(a.shingles, b.shingles))), 6)
      |    >= $JaccardThreshold),
      |$candCtes
      |SELECT bands, rows_per_band, cand_pairs, n_true, n_found,
      |  CAST(CASE WHEN n_true = 0 THEN 10000
      |       ELSE n_found * 10000 // n_true END AS BIGINT) AS recall_bp
      |FROM ($armRows)
      |ORDER BY bands""".stripMargin
  }

  private lazy val d05OracleSql: String =
    s"""WITH docs AS (
      |  SELECT doc_id, CAST(floor(n_chars / 64) AS BIGINT) AS bkt,
      |    $hashedShingleSql AS shingles
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
      |    (len(a.shingles) + len(b.shingles)
      |     - len(list_intersect(a.shingles, b.shingles))), 6) AS jac
      |FROM docs a JOIN docs b
      |  ON (b.bkt = a.bkt OR b.bkt = a.bkt + 1) AND a.doc_id < b.doc_id
      |WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
      |    (len(a.shingles) + len(b.shingles)
      |     - len(list_intersect(a.shingles, b.shingles))), 6) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** docs → pairs → edges → reach CTE chain over the length-blocked
    * n-gram pair graph — shared by the d09 and d24 oracles (their
    * `comp` aliases differ), so the pair predicate can never silently
    * diverge between the summary and the representative selection. */
  private lazy val clusterReachCtes: String =
    s"""docs AS MATERIALIZED (
      |  SELECT doc_id, CAST(floor(n_chars / 64) AS BIGINT) AS bkt,
      |    $hashedShingleSql AS shingles
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |pairs AS MATERIALIZED (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM docs a JOIN docs b
      |    ON (b.bkt = a.bkt OR b.bkt = a.bkt + 1) AND a.doc_id < b.doc_id
      |  WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
      |      (len(a.shingles) + len(b.shingles)
      |       - len(list_intersect(a.shingles, b.shingles))), 6) >= 0.5),
      |edges AS MATERIALIZED (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT DISTINCT src AS doc, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS doc, r.lbl FROM reach r JOIN edges e ON e.src = r.doc)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d26_minhash_sweep" -> d26OracleSql,
    "d25_leakage_safe_split" ->
      s"""WITH RECURSIVE $clusterReachCtes,
        |comp AS MATERIALIZED (SELECT doc, min(lbl) AS lbl FROM reach GROUP BY doc),
        |g AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    len(string_split(d.text, ' '))::BIGINT AS toks,
        |    coalesce(c.lbl, d.doc_id) AS grp,
        |    CASE WHEN (((coalesce(c.lbl, d.doc_id) % 2147483648)
        |        * 2654435761 + 12345) // 4096) % 10 < $TestTenths
        |      THEN 'test' ELSE 'train' END AS split
        |  FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id),
        |cross_cnt AS MATERIALIZED (
        |  SELECT count(CASE WHEN a.split <> b.split THEN 1 END)::BIGINT
        |    AS n_cross_pairs
        |  FROM pairs p JOIN g a ON a.doc_id = p.doc_a
        |               JOIN g b ON b.doc_id = p.doc_b)
        |SELECT split, count(*)::BIGINT AS n_docs,
        |  count(DISTINCT grp)::BIGINT AS n_groups,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens, n_cross_pairs
        |FROM g, cross_cnt
        |GROUP BY split, n_cross_pairs ORDER BY split""".stripMargin,
    // the window-cover identity spelled directly: duplicated length-L
    // windows -> keep-first -> union of covered positions
    "d20_exact_substring_dedup" ->
      s"""WITH docs AS MATERIALIZED (
        |  SELECT doc_id, lang, source, string_split(text, ' ') AS w
        |  FROM documents),
        |wins AS MATERIALIZED (
        |  SELECT doc_id, i AS p,
        |    array_to_string(w[i+1:i+$SubstrL], ' ') AS win,
        |    doc_id * 1048576 + i AS pk
        |  FROM (SELECT doc_id, w,
        |        unnest(range(0, len(w) - $SubstrL + 1)) AS i
        |        FROM docs WHERE len(w) >= $SubstrL)),
        |dup AS MATERIALIZED (SELECT win, min(pk) AS wk FROM wins GROUP BY win
        |        HAVING count(*) >= 2),
        |rem AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT doc_id, unnest(range(p, p + $SubstrL)) AS pos
        |    FROM wins JOIN dup USING (win) WHERE pk > wk)),
        |perdoc AS MATERIALIZED (SELECT doc_id, count(*) AS n_removed FROM rem
        |           GROUP BY doc_id)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(len(w)) AS BIGINT) AS tokens_total,
        |  CAST(coalesce(sum(n_removed), 0) AS BIGINT) AS tokens_removed,
        |  CAST(sum(CASE WHEN coalesce(n_removed, 0) > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS docs_affected
        |FROM docs LEFT JOIN perdoc USING (doc_id)
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "d16_fuzzy_join" ->
      """WITH n AS MATERIALIZED (SELECT DISTINCT p_name FROM part),
        |b AS MATERIALIZED (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM n)
        |SELECT a.blk, a.p_name AS name_a, bb.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, bb.p_name) AS BIGINT) AS dist
        |FROM b a JOIN b bb ON a.blk = bb.blk AND a.p_name < bb.p_name
        |WHERE levenshtein(a.p_name, bb.p_name) <= 4
        |ORDER BY a.blk, name_a, name_b""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT lang, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_distinct,
        |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dups
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "d02_keep_first" ->
      """WITH r AS MATERIALIZED (
        |  SELECT user_id, event_type, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, event_type) AS group_size
        |  FROM events WHERE user_id < 50)
        |SELECT user_id, event_type, event_id AS kept_event_id,
        |  CAST(group_size - 1 AS BIGINT) AS n_dropped
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "d03_minhash_lsh" -> d03OracleSql,
    "d24_keep_best" ->
      s"""WITH RECURSIVE $clusterReachCtes,
        |comp AS MATERIALIZED (SELECT doc, min(lbl) AS lbl FROM reach GROUP BY doc),
        |scored AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    len(string_split(text, ' '))::BIGINT AS n_words,
        |    ((length(text) - len(string_split(text, ' ')) + 1) * 100
        |      // len(string_split(text, ' ')))
        |    - (len(list_filter(string_split(text, ' '),
        |        x -> x = 'the' OR x = 'a')) * 100
        |      // len(string_split(text, ' '))) AS score
        |  FROM documents),
        |clustered AS MATERIALIZED (
        |  SELECT s.doc_id, s.lang, s.n_words, s.score, c.lbl
        |  FROM scored s JOIN comp c ON s.doc_id = c.doc),
        |winners AS MATERIALIZED (
        |  SELECT lbl, doc_id AS keep_id FROM (
        |    SELECT lbl, doc_id, row_number() OVER (
        |      PARTITION BY lbl ORDER BY score DESC, doc_id) AS rn
        |    FROM clustered) WHERE rn = 1),
        |drops AS MATERIALIZED (
        |  SELECT c.lang, c.n_words FROM clustered c
        |  JOIN winners w ON c.lbl = w.lbl WHERE c.doc_id <> w.keep_id),
        |pa AS MATERIALIZED (SELECT lang, count(*) AS n_docs,
        |         CAST(sum(n_words) AS BIGINT) AS tokens_total
        |       FROM scored GROUP BY lang),
        |pc AS MATERIALIZED (SELECT lang, count(*) AS n_clustered FROM clustered
        |       GROUP BY lang),
        |pd AS MATERIALIZED (SELECT lang, count(*) AS n_dropped,
        |         CAST(sum(n_words) AS BIGINT) AS tokens_dropped
        |       FROM drops GROUP BY lang)
        |SELECT pa.lang, pa.n_docs,
        |  CAST(coalesce(pc.n_clustered, 0) AS BIGINT) AS n_clustered,
        |  CAST(coalesce(pd.n_dropped, 0) AS BIGINT) AS n_dropped,
        |  pa.tokens_total,
        |  CAST(coalesce(pd.tokens_dropped, 0) AS BIGINT) AS tokens_dropped
        |FROM pa LEFT JOIN pc ON pa.lang = pc.lang
        |LEFT JOIN pd ON pa.lang = pd.lang
        |ORDER BY pa.lang""".stripMargin,
    "d21_dedup_recall" ->
      s"""WITH docs AS (
        |  SELECT doc_id, $hashedShingleSql AS hs
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |truth AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db,
        |    round(len(list_intersect(a.hs, b.hs))::DOUBLE /
        |      (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 6)
        |      AS jac
        |  FROM docs a JOIN docs b ON a.doc_id < b.doc_id),
        |lsh AS (SELECT doc_a AS da, doc_b AS db FROM ($d03OracleSql)),
        |blocked AS (SELECT doc_a AS da, doc_b AS db FROM ($d05OracleSql)),
        |r1 AS (
        |  SELECT 'blocked_ngram' AS scheme, count(*) AS n_true,
        |    count(f.da) AS n_found
        |  FROM (SELECT da, db FROM truth WHERE jac >= 0.5) t
        |  LEFT JOIN blocked f ON t.da = f.da AND t.db = f.db),
        |r2 AS (
        |  SELECT 'minhash_lsh' AS scheme, count(*) AS n_true,
        |    count(f.da) AS n_found
        |  FROM (SELECT da, db FROM truth WHERE jac >= $JaccardThreshold) t
        |  LEFT JOIN lsh f ON t.da = f.da AND t.db = f.db)
        |SELECT scheme, CAST(n_true AS BIGINT) AS n_true,
        |  CAST(n_found AS BIGINT) AS n_found,
        |  CAST(CASE WHEN n_true = 0 THEN 10000
        |       ELSE n_found * 10000 // n_true END AS BIGINT) AS recall_bp
        |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |ORDER BY scheme""".stripMargin,
    "d04_simhash" -> {
      val bitSums = (0 until 32).map { i =>
        s"sum(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS b$i"
      }.mkString(",\n        |    ")
      val sig = (0 until 32).map { i =>
        s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |h AS (SELECT doc_id,
        |  ('0x' || substring(md5(w), 1, 8))::BIGINT AS h FROM w),
        |agg AS (
        |  SELECT doc_id,
        |    $bitSums
        |  FROM h GROUP BY doc_id)
        |SELECT doc_id, CAST($sig AS BIGINT) AS simhash
        |FROM agg ORDER BY doc_id""".stripMargin
    },
    "d05_ngram_jaccard" -> d05OracleSql,
    // Pairs exactly as d05; components via a recursive min-label CTE
    // (UNION set semantics terminates it), matching the Spark
    // propagation fixed point: lbl(doc) = min doc_id reachable.
    "d09_dedup_clusters" ->
      s"""WITH RECURSIVE $clusterReachCtes,
        |comp AS MATERIALIZED (SELECT doc, min(lbl) AS cluster_rep FROM reach GROUP BY doc),
        |ranked AS MATERIALIZED (
        |  SELECT doc, cluster_rep, row_number() OVER (
        |    PARTITION BY cluster_rep ORDER BY doc) AS rn FROM comp)
        |SELECT cluster_rep, count(*) AS n_members,
        |  string_agg(CASE WHEN rn <= $MaxMembers THEN CAST(doc AS VARCHAR) END,
        |             ',' ORDER BY doc) AS members,
        |  CAST(sum(CASE WHEN rn > $MaxMembers THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_overflow
        |FROM ranked GROUP BY cluster_rep ORDER BY cluster_rep""".stripMargin,
    // s05's exact pair CTEs + the same recursive min-label component
    // CTE as d09, over the embedding near-dup edges
    "d10_semantic_dedup" ->
      s"""WITH RECURSIVE ${SimilarityQueries.lshPairCtes},
        |edges AS (
        |  SELECT vec_a AS src, vec_b AS dst FROM pairs
        |  UNION ALL SELECT vec_b, vec_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT src AS doc, src AS lbl FROM edges
        |  UNION
        |  SELECT e.dst AS doc, r.lbl FROM reach r JOIN edges e ON e.src = r.doc),
        |comp AS (SELECT doc, min(lbl) AS cluster_rep FROM reach GROUP BY doc),
        |ranked AS (
        |  SELECT doc, cluster_rep, row_number() OVER (
        |    PARTITION BY cluster_rep ORDER BY doc) AS rn FROM comp)
        |SELECT cluster_rep, count(*) AS n_members,
        |  string_agg(CASE WHEN rn <= $MaxMembers THEN CAST(doc AS VARCHAR) END,
        |             ',' ORDER BY doc) AS members,
        |  CAST(sum(CASE WHEN rn > $MaxMembers THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_overflow
        |FROM ranked GROUP BY cluster_rep ORDER BY cluster_rep""".stripMargin,
    "d12_boilerplate_ngrams" ->
      s"""WITH docs AS (
        |  SELECT doc_id, lang, source, $hashedShingleSql AS gs
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |freq AS (
        |  SELECT g FROM (SELECT unnest(gs) AS g FROM docs)
        |  GROUP BY g HAVING count(*) >= $BoilerplateMinDocs),
        |hits AS (
        |  SELECT d.doc_id, count(*) AS n_boiler
        |  FROM (SELECT doc_id, unnest(gs) AS g FROM docs) d
        |  JOIN freq USING (g) GROUP BY d.doc_id),
        |base AS (SELECT doc_id, lang, source, len(gs) AS n_grams FROM docs)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(coalesce(sum(h.n_boiler), 0) AS BIGINT) AS total_boiler_grams,
        |  round(avg(coalesce(h.n_boiler, 0)::DOUBLE / n_grams), 6)
        |    AS avg_boiler_frac,
        |  CAST(count(CASE WHEN coalesce(h.n_boiler, 0)::DOUBLE / n_grams
        |                   >= $BoilerplateFlagFrac THEN 1 END) AS BIGINT)
        |    AS n_flagged
        |FROM base LEFT JOIN hits h USING (doc_id)
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "d14_substring_scrub" ->
      s"""WITH docs AS (
        |  SELECT doc_id, lang, source, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |g AS (
        |  SELECT doc_id, i - 1 AS p,
        |    ('0x' || substring(md5(array_to_string(w[i:i+2], ' ')), 1, 8))::BIGINT AS g
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM docs)),
        |freq AS (
        |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM g)
        |  GROUP BY g HAVING count(*) >= $BoilerplateMinDocs),
        |cov AS (
        |  SELECT doc_id, count(DISTINCT cp) AS covered
        |  FROM (SELECT doc_id, unnest(range(p, p + 3)) AS cp
        |        FROM g JOIN freq USING (g))
        |  GROUP BY doc_id),
        |base AS (SELECT doc_id, lang, source, len(w) AS n FROM docs)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(count(c.covered) AS BIGINT) AS docs_touched,
        |  CAST(sum(n) AS BIGINT) AS tokens_total,
        |  CAST(coalesce(sum(c.covered), 0) AS BIGINT) AS tokens_covered,
        |  round(avg(coalesce(c.covered, 0)::DOUBLE / n), 6) AS avg_cover_frac
        |FROM base LEFT JOIN cov c USING (doc_id)
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "d08_decontaminate" -> decontaminateOracle,
    "d30_dedup_plan" ->
      s"""WITH RECURSIVE $clusterReachCtes,
        |comp AS MATERIALIZED (
        |  SELECT doc, min(lbl) AS rep FROM reach GROUP BY doc),
        |sz AS (SELECT rep, count(*) AS cluster_size FROM comp GROUP BY rep),
        |hist AS (
        |  SELECT cluster_size, count(*) AS n_clusters
        |  FROM sz GROUP BY cluster_size),
        |tot AS (SELECT count(*) AS n_docs FROM documents),
        |rem AS (SELECT sum((cluster_size - 1) * n_clusters) AS removable
        |        FROM hist)
        |SELECT cluster_size, n_clusters,
        |  cluster_size * n_clusters AS docs_in_size,
        |  (cluster_size - 1) * n_clusters AS removable_in_size,
        |  CAST(rem.removable * 10000 // tot.n_docs AS BIGINT)
        |    AS total_removable_bp
        |FROM hist, tot, rem ORDER BY cluster_size""".stripMargin,
    "d29_source_novelty" ->
      s"""WITH ex AS (
        |  SELECT doc_id, source, unnest($hashedShingleSql) AS sh
        |  FROM documents),
        |fd AS (SELECT sh, min(doc_id) AS first_doc FROM ex GROUP BY sh),
        |nv AS (
        |  SELECT d.source, count(*) AS novel_shingles
        |  FROM fd JOIN documents d ON d.doc_id = fd.first_doc
        |  GROUP BY d.source),
        |tot AS (
        |  SELECT source, count(*) AS distinct_shingles FROM (
        |    SELECT DISTINCT source, sh FROM ex) GROUP BY source)
        |SELECT t.source, t.distinct_shingles,
        |  coalesce(nv.novel_shingles, 0) AS novel_shingles,
        |  CAST(coalesce(nv.novel_shingles, 0) * 10000
        |    // t.distinct_shingles AS BIGINT) AS novelty_bp
        |FROM tot t LEFT JOIN nv ON nv.source = t.source
        |ORDER BY t.source""".stripMargin,
    "d28_source_overlap" ->
      s"""WITH ss AS (
        |  SELECT DISTINCT source, sh FROM (
        |    SELECT source, unnest($hashedShingleSql) AS sh
        |    FROM documents)),
        |tot AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    count(*) AS shared_shingles
        |  FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, shared_shingles,
        |  CAST(shared_shingles * 10000
        |    // (ta.n + tb.n - shared_shingles) AS BIGINT) AS jaccard_bp
        |FROM pairs
        |JOIN tot ta ON ta.source = src_a
        |JOIN tot tb ON tb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "d27_ngram_containment" ->
      s"""WITH ev AS MATERIALIZED (
        |  SELECT doc_id AS eval_id, unnest($hashedShingleSql) AS sh
        |  FROM documents
        |  WHERE doc_id % 50 = 0 AND len(string_split(text, ' ')) >= 3),
        |present AS MATERIALIZED (
        |  SELECT DISTINCT c.sh
        |  FROM (SELECT unnest($hashedShingleSql) AS sh
        |        FROM documents WHERE doc_id % 50 <> 0) c
        |  JOIN (SELECT DISTINCT sh FROM ev) e ON c.sh = e.sh),
        |rep AS (
        |  SELECT e.eval_id, count(e.sh) AS n_ngrams, count(p.sh) AS n_contained
        |  FROM ev e LEFT JOIN present p ON e.sh = p.sh
        |  GROUP BY e.eval_id)
        |SELECT eval_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
        |  CAST(n_contained AS BIGINT) AS n_contained,
        |  n_contained * 10000 // n_ngrams AS contained_bp,
        |  n_contained * 10000 // n_ngrams >= $ContainmentBp AS flagged
        |FROM rep ORDER BY eval_id""".stripMargin,
    // the bloom prefilter must be invisible in the answer: exact-join
    // verification kills every false positive, so d18 shares d08's oracle
    "d18_bloom_decontaminate" -> decontaminateOracle,
  )

  private lazy val decontaminateOracle =
    s"""WITH bench AS (
      |  SELECT DISTINCT unnest($hashedShingleSql) AS sh
      |  FROM documents WHERE doc_id % 50 = 0),
      |corpus AS (
      |  SELECT doc_id, unnest($hashedShingleSql) AS sh
      |  FROM documents WHERE doc_id % 50 <> 0),
      |hits AS (
      |  SELECT doc_id, count(DISTINCT c.sh) AS n_shared
      |  FROM corpus c JOIN bench b ON c.sh = b.sh GROUP BY doc_id),
      |base AS (
      |  SELECT doc_id, lang FROM documents WHERE doc_id % 50 <> 0)
      |SELECT base.lang, count(*) AS n_docs,
      |  CAST(count(h.n_shared) AS BIGINT) AS n_contaminated,
      |  CAST(coalesce(sum(h.n_shared), 0) AS BIGINT) AS total_shared
      |FROM base LEFT JOIN hits h ON base.doc_id = h.doc_id
      |GROUP BY base.lang ORDER BY base.lang""".stripMargin
}
