package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training corpora (VERDICT r1 rank 0;
  * SURVEY.md §7.1 module 7). Four tiers, cheapest first:
  *
  *  1. exact: hash-groupBy on the normalized text — one shuffle on the
  *     content hash, map-side partial agg;
  *  2. MinHash-LSH: per-row signatures (narrow), band-bucket self-join
  *     (shuffle on band key) — candidate pairs WITHOUT the all-pairs
  *     cartesian, the only formulation that survives 100 TB;
  *  3. SimHash: per-row 32-bit sketch ([[TextOps.simhash32]]), pairs by
  *     Hamming distance over bucketed prefixes;
  *  4. exact n-gram Jaccard: the precise verification stage, run ONLY
  *     on LSH candidate pairs.
  *
  * MinHash permutations: ONE md5 per shingle, parsed to a 28-bit
  * integer key, then k universal-hash mixes `(Aᵢ·x + Bᵢ) mod P`
  * (P = 2³¹−1) with numeric min — engine-portable (any SQL engine with
  * md5 + integer arithmetic reproduces the signature bit-for-bit, which
  * is how the DuckDB oracle verifies us) AND hash-aggregatable: LongType
  * buffers keep the signature aggregation in codegen'd HashAggregate,
  * where the earlier min-over-hex-string form fell back to
  * SortAggregate and sorted the whole exploded shingle stream — the
  * scan-dominant stage at 100 TB. It also cuts the md5 work k-fold
  * (one digest per shingle instead of one per permutation).
  */
object Dedup {

  /** Modulus of the universal-hash family: the Mersenne prime 2³¹−1.
    * Products stay < 2⁵⁹, so the arithmetic never overflows a BIGINT in
    * any engine (DuckDB raises on 64-bit overflow — wraparound is not
    * portable). */
  val MinhashP: Long = 2147483647L

  /** Deterministic per-permutation multipliers/offsets (Knuth
    * multiplicative constant; values mod P, never 0). */
  def mixA(i: Int): Long = {
    val a = (i.toLong * 2654435761L + 1L) % MinhashP
    if (a == 0L) 1L else a
  }
  def mixB(i: Int): Long = (i.toLong * 40503L + 8191L) % MinhashP

  /** 28-bit shingle key: first 7 hex digits of md5, as a BIGINT. */
  def shingleKey(s: Column): Column =
    conv(substring(md5(s), 1, 7), 16, 10).cast("long")

  /** 60-bit shingle key: first 15 hex digits of md5, as a BIGINT — the
    * STORAGE key for persisted shingle tables ([[SignatureStore]]).
    * The 28-bit [[shingleKey]] is deliberately collision-prone (it only
    * feeds min-hash mixing, where collisions are part of the sketch);
    * a stored key feeds EXACT intersection counts, so it must be
    * collision-free in practice: at 60 bits the expected number of
    * colliding vocabulary pairs stays ≪ 1 up to ~10⁸ distinct shingles
    * and is a per-pair rounding error far beyond that. Fits a BIGINT
    * (< 2⁶⁰) in every engine, so the DuckDB oracle can mirror the
    * arithmetic byte-for-byte if it ever needs to. */
  def wideShingleKey(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  private def mixed(i: Int, x: Column): Column =
    (x * mixA(i) + mixB(i)) % MinhashP

  /** k per-permutation MinHash values over a shingle array column.
    *
    * NOTE: only for small arrays/tests. The production signature path
    * is [[minhashProject]]'s explode→partial-min formulation: nested
    * higher-order functions are interpreted (no codegen) AND Catalyst's
    * ProjectCollapsing re-inlines the whole array build into every
    * downstream reference, multiplying the hash work ~k× — measured
    * 300+ s vs ~3 s on the sf0.1 corpus. */
  def minhashSig(shinglesCol: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(shinglesCol, s => mixed(i, shingleKey(s))))): _*)

  /** [[minhashSig]] bit-for-bit, in ONE pass over the shingle array:
    * the md5 key is computed ONCE per shingle (the `transform` in
    * `aggregate`'s first argument evaluates before the fold), and the
    * fold keeps k running minimums, updating each with the cheap
    * universal-hash mix. The k-separate-`array_min` form recomputes the
    * md5 key k times per shingle — the dominant per-row cost in the
    * STREAMING path, where signatures must be per-row expressions (a
    * pre-aggregation would be a second stateful operator, which Spark
    * restricts; the batch path uses [[minhashProject]]'s codegen'd
    * explode→partial-min aggregate instead and is unaffected).
    * Property-tested equal to [[minhashSig]] in ExtOpsSpec. */
  def minhashSigOnce(shinglesCol: Column, k: Int): Column = {
    val aLit = array((0 until k).map(i => lit(mixA(i))): _*)
    val bLit = array((0 until k).map(i => lit(mixB(i))): _*)
    aggregate(
      transform(shinglesCol, s => shingleKey(s)),
      array(Seq.fill(k)(lit(MinhashP)): _*), // mixes are < P, so P ≡ +∞
      (acc, x) => transform(sequence(lit(0), lit(k - 1)), i =>
        least(element_at(acc, (i + 1).cast("int")),
          (x * element_at(aLit, (i + 1).cast("int")) +
            element_at(bLit, (i + 1).cast("int"))) % MinhashP)))
  }

  /** LSH band keys over a signature array: b bands of r rows each;
    * two docs share a band key iff all r signature slots in the band
    * match. */
  def lshBandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(j =>
      md5(concat_ws("|",
        (1 to rowsPerBand).map(r => element_at(sigCol, j * rowsPerBand + r)): _*))): _*)

  /** Skew guard shared by every candidate join (off when
    * `maxBucket <= 0`): drop band buckets whose DISTINCT-doc occupancy
    * exceeds the cap. A bucket with m members yields O(m²) (self-join)
    * or |left∩bucket|·|right∩bucket| (cross-join) candidate pairs
    * inside ONE join partition — a degenerate bucket (boilerplate
    * corpora hashing thousands of docs to the same band) is an n² hot
    * spot no cluster size fixes. Such buckets are also uninformative
    * (the band agrees for a huge crowd), so standard LSH practice drops
    * them, like stop-shingle removal. Occupancy is `countDistinct(id)`,
    * not a raw row count (ADVICE r7): duplicate rows from an
    * at-least-once store re-append must not inflate a bucket past the
    * cap and evict docs whose true occupancy is under it. Cost: one
    * extra aggregate on the (small) band-key stream; the over-cap set
    * is ≤ totalBandRows/maxBucket rows, so AQE picks a broadcast
    * anti-join in any realistic geometry. */
  private def capBuckets(ex: DataFrame, idCol: String, maxBucket: Int): DataFrame =
    if (maxBucket <= 0) ex
    else {
      val sizes = ex.groupBy(col("bk")).agg(countDistinct(col(idCol)).as("bucket_n"))
      ex.join(sizes.filter(col("bucket_n") > maxBucket), Seq("bk"), "left_anti")
    }

  /** THE exact-duplicate content hash — sha-256 of the canonical
    * normalized text ([[TextOps.normalized]]: lowercase, non-alnum
    * split, single-space rejoin). Every exact tier in the engine
    * shares this one definition (VERDICT r8 #3 — the store path
    * previously hashed raw bytes while the streaming/batch paths
    * hashed normalized text, two silently divergent "exact duplicate"
    * semantics): [[exact]], [[SignatureStore]]'s hashes table and
    * exact tier, `dedup_incremental`/`pipeline_dedup_apply`'s
    * exact-drop tier, and
    * [[graft.streaming.StreamingDedup.exactDupStream]]. Byte-level
    * identity (when whitespace/punctuation variants must stay
    * distinct — e.g. a content-version manifest) is a different
    * contract: hash the raw column directly, as `pipeline_manifest`
    * does. */
  def contentHash(text: Column): Column =
    sha2(TextOps.normalized(text), 256)

  /** [[contentHash]] under an explicit token layer (round 20, VERDICT
    * r19 #1): the same canonical-form hash with the splitter swapped —
    * pass [[TextOps.tokensU]] and two documents are identical iff
    * their UNICODE word sequences are, so a pure-Cyrillic corpus stops
    * collapsing into one all-empty normalized form (the ASCII layer
    * tokenizes every non-Latin doc to `[]`, hashing them all equal). */
  def contentHashWith(tok: Column => Column)(text: Column): Column =
    sha2(concat_ws(" ", tok(text)), 256)

  /** Exact dedup: group rows by [[contentHash]], keep the smallest id
    * per group. One shuffle, partial-aggregated. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_" + idCol), count(lit(1)).as("n_copies"))

  /** Doc → (id, sig, bands) projection via explode → k partial-min
    * aggregates: each shingle row computes ONE md5 (the 28-bit key) and
    * feeds k codegen'd `min((Aᵢ·x+Bᵢ) mod P)` accumulators — LongType
    * buffers, so the whole stage is a hash aggregate (no sort of the
    * exploded stream) and the shuffle moves only (id, k partial mins)
    * after map-side combine — the signature traffic, not the corpus.
    * The Aggregate is also an optimizer barrier, so the downstream
    * band-key md5s reference the materialized h-columns instead of
    * re-inlining the signature build (see [[minhashSig]]'s scaladoc for
    * why the pure-HOF form loses).
    */
  def minhashProject(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, rowsPerBand: Int = 3,
      shingleN: Int = 3,
      tok: Column => Column = TextOps.tokens): DataFrame = {
    require(bands * rowsPerBand == k, "bands * rowsPerBand must equal k")
    val exploded = df
      .select(col(idCol), tok(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= shingleN)
      .select(col(idCol), explode(TextOps.shingles(col("toks"), shingleN)).as("s"))
      .select(col(idCol), shingleKey(col("s")).as("x"))
    val hCols = (0 until k).map(i => min(mixed(i, col("x"))).as(s"h$i"))
    val sig = exploded.groupBy(col(idCol)).agg(hCols.head, hCols.tail: _*)
    val bandCols = (0 until bands).map { j =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(r => col(s"h${j * rowsPerBand + r}")): _*))
    }
    sig.select(
      col(idCol),
      array((0 until k).map(i => col(s"h$i")): _*).as("sig"),
      array(bandCols: _*).as("bands"))
  }

  /** Candidate near-dup pairs: explode band keys, self-join on the
    * band bucket (shuffle hash join on `bk` — never a cartesian), keep
    * id_a < id_b, dedup pairs that collide in several bands. The
    * returned `n_sig_match` (0..k matching signature slots) estimates
    * Jaccard as n_sig_match/k. When `projected` carries `n_sh` (the
    * [[minhashFromShingles]] form) the per-side shingle counts ride the
    * candidate rows as `n_sh_a`/`n_sh_b`, so the verify stage needs no
    * count joins — and keeping the count referenced is what preserves
    * the shared distinct-shingle subtree (see [[minhashFromShingles]]). */
  def minhashCandidates(projected: DataFrame, idCol: String, k: Int = 12,
      maxBucket: Int = 0): DataFrame = {
    val hasN = projected.columns.contains("n_sh")
    val exAll = projected.select(
      Seq(col(idCol), col("sig")) ++ (if (hasN) Seq(col("n_sh")) else Nil) :+
        explode(col("bands")).as("bk"): _*)
    val ex = capBuckets(exAll, idCol, maxBucket) // see [[capBuckets]]
    val a = ex.alias("a")
    val b = ex.alias("b")
    a.join(b, col("a.bk") === col("b.bk") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        Seq(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
          col("a.sig").as("sig_a"), col("b.sig").as("sig_b")) ++
        (if (hasN) Seq(col("a.n_sh").as("n_sh_a"), col("b.n_sh").as("n_sh_b")) else Nil): _*)
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("n_sig_match",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          v => v)).cast("long"))
      .drop("sig_a", "sig_b")
  }

  /** Cross-side-only LSH candidate pairs between TWO separately-banded
    * projections (both in [[minhashFromShingles]] shape: id, sig,
    * bands[, n_sh]): each side explodes its band keys and the equi-join
    * runs `left.bk === right.bk` — so same-side pairs are never
    * ENUMERATED, not merely filtered after the fact (VERDICT r6 #1: the
    * self-join-then-filter form generates train×train / corpus×corpus
    * pairs that are immediately discarded; at a 90/10 split that waste
    * is ~81% of the join output). This is the ingestion-time geometry:
    * `left` is the incoming batch / eval split, `right` the stored
    * corpus / train split, and the join output is bounded by cross-side
    * bucket co-occupancy only.
    *
    * Output: (doc_a = left id, doc_b = right id, n_sig_match
    * [, n_sh_a, n_sh_b]) with multi-band collisions deduped. Rows where
    * the same id appears on both sides are dropped (a doc is never its
    * own duplicate).
    *
    * `maxBucket > 0` caps the per-bucket DISTINCT-doc occupancy of BOTH
    * sides before the join (VERDICT r7 #6 — the right-only form left an
    * adversarial batch full of one boilerplate band free to produce
    * |batch∩bucket|·m pairs in one partition): with both sides capped,
    * a bucket contributes at most maxBucket² pairs. The cross-join
    * sibling of [[capBuckets]] in [[minhashCandidates]], and the batch
    * analogue of [[graft.streaming.StreamingDedup]]'s per-bucket state
    * cap. */
  def crossCandidates(left: DataFrame, right: DataFrame, idCol: String,
      maxBucket: Int = 0): DataFrame = {
    val hasN = left.columns.contains("n_sh") && right.columns.contains("n_sh")
    def exploded(df: DataFrame) = df.select(
      Seq(col(idCol), col("sig")) ++ (if (hasN) Seq(col("n_sh")) else Nil) :+
        explode(col("bands")).as("bk"): _*)
    val a = capBuckets(exploded(left), idCol, maxBucket).alias("a")
    val b = capBuckets(exploded(right), idCol, maxBucket).alias("b")
    a.join(b, col("a.bk") === col("b.bk") && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(
        Seq(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
          col("a.sig").as("sig_a"), col("b.sig").as("sig_b")) ++
        (if (hasN) Seq(col("a.n_sh").as("n_sh_a"), col("b.n_sh").as("n_sh_b")) else Nil): _*)
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("n_sig_match",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          v => v)).cast("long"))
      .drop("sig_a", "sig_b")
  }

  /** [[crossCandidates]] for the single-table case where the two sides
    * are a PARTITION of one corpus (a 0/1 `sideCol`: incoming vs
    * existing, eval vs train). The join is side1 × side0 by
    * construction, so same-side pairs are never ENUMERATED — that is
    * the win over the old self-join-then-filter form, which generated
    * incoming×incoming / train×train pairs only to discard them (~81%
    * of the join output at a 90/10 split). The `repartition(bk)` below
    * declares a shared bk-partitioning for both join inputs; note that
    * when `sideCol` is a deterministic function of the row, Catalyst
    * pushes each side filter below the repartition down to the scan
    * (observed in PlanAuditSpec), so the physical plan carries per-side
    * exchanges over side-pruned scans rather than one reused exchange —
    * each side's shingle/signature work is side-pruned at the source,
    * and the sided benefit is the join geometry, not exchange reuse
    * (ADVICE r7 #1).
    *
    * Output: (doc_a = side-1 id, doc_b = side-0 id, n_sig_match
    * [, n_sh_a, n_sh_b]), multi-band collisions deduped.
    *
    * `maxBucket > 0` drops band buckets whose TOTAL distinct-doc
    * occupancy exceeds the cap before the sides split — [[capBuckets]]
    * applied to the sided join (a degenerate bucket is an
    * n_side1 × n_side0 hot spot no cluster size fixes, and such
    * buckets are uninformative — standard LSH stop-bucket removal). */
  def sidedCandidates(projected: DataFrame, idCol: String,
      sideCol: String, maxBucket: Int = 0): DataFrame = {
    val hasN = projected.columns.contains("n_sh")
    val exAll = projected.select(
      Seq(col(idCol), col("sig"), col(sideCol)) ++
        (if (hasN) Seq(col("n_sh")) else Nil) :+
        explode(col("bands")).as("bk"): _*)
    val ex = capBuckets(exAll, idCol, maxBucket).repartition(col("bk"))
    val a = ex.filter(col(sideCol) === 1).alias("a")
    val b = ex.filter(col(sideCol) === 0).alias("b")
    a.join(b, col("a.bk") === col("b.bk"))
      .select(
        Seq(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
          col("a.sig").as("sig_a"), col("b.sig").as("sig_b")) ++
        (if (hasN) Seq(col("a.n_sh").as("n_sh_a"), col("b.n_sh").as("n_sh_b")) else Nil): _*)
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("n_sig_match",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          v => v)).cast("long"))
      .drop("sig_a", "sig_b")
  }

  /** Exact-substring duplication profile, Lee-et-al style ("Deduplicating
    * Training Data Makes Language Models Better", 2022 — their
    * suffix-array exact-substring criterion re-expressed Spark-first):
    * a doc's W-token windows are fingerprinted and any window occurring
    * in ≥2 DISTINCT docs marks an exactly-duplicated token run. Unlike
    * the pairwise Jaccard tiers this is corpus-global and LINEAR — one
    * row per window position, a hash-groupBy on the window key (map-side
    * combine), a key-join back, and a per-doc aggregate; no candidate
    * pairs, no n² term anywhere, which is why substring dedup is the
    * tier that still runs when pairwise verification can't.
    *
    * Window keys are [[wideShingleKey]] 60-bit md5 prefixes (the
    * fingerprint join/aggregate streams 8-byte longs, never W-token
    * strings; a key collision falsely marks ONE window duplicated —
    * at 60 bits a rounding error on corpus statistics, and the DuckDB
    * oracle mirrors the same arithmetic so the gate stays exact).
    *
    * Returns one row per doc with ≥ W tokens:
    * (doc_id, n_windows, n_dup_windows, dup_ratio_e4 — exact integer
    * rational, max_dup_run — longest run of CONSECUTIVE duplicated
    * windows, i.e. max_dup_run + W − 1 exactly-shared tokens). */
  def substringDupProfile(df: DataFrame, idCol: String, textCol: String,
      w: Int = 10, tok: Column => Column = TextOps.tokens): DataFrame = {
    // Single-scan, join-free formulation: the cross-doc flag is a
    // WINDOW aggregate over the key (min(id) ≠ max(id) within a wk
    // partition ⟺ the window occurs in ≥2 distinct docs), not a
    // groupBy+self-semi-join — a self-join either re-scans the corpus
    // for its probe side (the optimizer pushes the join below any
    // shared repartition, splitting the reused exchange) or broadcasts
    // a corpus-sized dup-key set; the window form pays one wk exchange
    // + sort and touches the corpus ONCE. The follow-on per-doc pass
    // rides one doc_id exchange: the running flagged-count makes
    // gaps-and-islands run ids (pos − running_count is constant across
    // a consecutive flagged run), and both per-doc aggregates and the
    // final join consume the same doc_id partitioning with no further
    // shuffle (plan: 1 scan, 2 hash exchanges, 1 presentation sort).
    import org.apache.spark.sql.expressions.Window
    val wins = df
      .select(col(idCol), tok(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col(idCol),
        posexplode(TextOps.shingles(col("toks"), w)).as(Seq("pos", "win")))
      .select(col(idCol), (col("pos") + 1).as("pos"),
        wideShingleKey(col("win")).as("wk"))
    val overKey = Window.partitionBy(col("wk"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = wins
      .withColumn("flag",
        (min(col(idCol)).over(overKey) =!= max(col(idCol)).over(overKey))
          .cast("long"))
      .withColumn("rf", sum(col("flag")).over(byDoc))
      // run id for flagged rows; null for clean rows, which then all
      // collapse into ONE (doc, null) group — so a single two-level
      // aggregation chain yields total windows, duplicated windows and
      // the longest run without a second pass or a join
      .withColumn("grp", when(col("flag") === 1L, col("pos") - col("rf")))
    base
      .groupBy(col(idCol), col("grp")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_windows"),
        sum(when(col("grp").isNotNull, col("c")).otherwise(lit(0L)))
          .as("n_dup_windows"),
        max(when(col("grp").isNotNull, col("c"))).as("max_run"))
      .select(col(idCol),
        col("n_windows"),
        col("n_dup_windows"),
        expr("(n_dup_windows * 10000) div n_windows").as("dup_ratio_e4"),
        coalesce(col("max_run"), lit(0L)).as("max_dup_run"))
  }

  /** Doc → (id, simhash32) via explode → 32 codegen'd bit-vote sums:
    * each token's md5 is computed once (the per-row HOF form,
    * [[TextOps.simhash32]], recomputes it per bit — 32×); the shuffle
    * carries 32 partial sums per doc after map-side combine. Bit
    * semantics identical to the HOF form. */
  def simhashProject(df: DataFrame, idCol: String, textCol: String,
      tok: Column => Column = TextOps.tokens): DataFrame = {
    val ex = df
      .select(col(idCol), tok(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol), explode(col("toks")).as("t"))
      .select(col(idCol), md5(col("t")).as("h"))
      // one hex parse per NIBBLE under the aggregate (8/row), not one
      // per bit inside each sum (32/row) — the Project below the
      // Aggregate is preserved in the physical plan, so each conv runs
      // once and the 32 bit-votes read the materialized nibble columns
      .select(Seq(col(idCol)) ++ (0 until 8).map(n =>
        conv(col("h").substr(lit(n + 1), lit(1)), 16, 10).cast("int").as(s"nib$n")): _*)
    val bitCols = (0 until 32).map { j =>
      val mask = 1 << (3 - (j % 4))
      sum(when(col(s"nib${j / 4}").bitwiseAND(lit(mask)) =!= 0, 1).otherwise(-1)).as(s"b$j")
    }
    val votes = ex.groupBy(col(idCol)).agg(bitCols.head, bitCols.tail: _*)
    votes.select(col(idCol),
      (0 until 32).map(j => when(col(s"b$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash32"))
  }

  /** SimHash near-dup candidate pairs: bucket on the high `prefixBits`
    * of the 32-bit sketch (near-identical docs agree on the high bits
    * with overwhelming probability), self-join WITHIN buckets only,
    * keep pairs with Hamming distance ≤ `maxHamming` via
    * `bit_count(xor)`. The sketch-space sibling of [[lshBandKeys]]:
    * candidate volume scales with bucket occupancy, never n² — and the
    * prefix join key is a plain long, so the join hashes natively. */
  def simhashPairs(sketches: DataFrame, idCol: String,
      maxHamming: Int = 3, prefixBits: Int = 16): DataFrame = {
    val keyed = sketches.select(col(idCol), col("simhash32"),
      shiftright(col("simhash32"), 32 - prefixBits).as("bucket"))
    keyed.alias("a").join(keyed.alias("b"),
        col("a.bucket") === col("b.bucket") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        bit_count(col("a.simhash32").bitwiseXOR(col("b.simhash32")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Distinct exploded shingle rows (id, s) for a corpus — the shared
    * intermediate of a verify-bearing dedup pipeline: the exact-Jaccard
    * stage needs this shuffle anyway, and because the subtree is
    * identical wherever it is referenced, Spark's ReuseExchange
    * materializes it ONCE (the corpus is scanned and tokenized a single
    * time no matter how many downstream branches — signatures, per-doc
    * counts, per-side intersection joins — consume it). */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3,
      tok: Column => Column = TextOps.tokens): DataFrame =
    shingleRowsFromToks(
      df.select(col(idCol), tok(col(textCol)).as("toks")),
      idCol, "toks", shingleN)

  /** [[shingleRows]] over an ALREADY-TOKENIZED frame (round-20
    * optimization, guide §1.2 "don't compute things twice"): callers
    * holding a materialized token array (the corpus build's
    * `token_stats` stage, a tokenize-once decision pass) shingle it
    * directly instead of re-running the regex split over the text —
    * `explode(shingles(toks))` over the same `toks` the text form
    * computes, so the rows are identical by construction. */
  def shingleRowsFromToks(df: DataFrame, idCol: String, toksCol: String,
      shingleN: Int = 3): DataFrame =
    df.select(col(idCol), col(toksCol).as("toks"))
      .filter(size(col("toks")) >= shingleN)
      .select(col(idCol), explode(TextOps.shingles(col("toks"), shingleN)).as("s"))
      .distinct()

  /** MinHash signature + band projection from exploded DISTINCT (id, s)
    * shingle rows (sig values identical to [[minhashProject]]: min over
    * distinct shingles ≡ min over all occurrences), plus `n_sh` — the
    * per-doc distinct-shingle count the exact-verify stage needs.
    * Emitting the count here is ALSO what keeps the shared [[shingleRows]]
    * subtree shared: count is duplicate-sensitive, so Catalyst's
    * RemoveRedundantAggregates cannot delete the distinct beneath this
    * aggregate (with only duplicate-agnostic mins it does, splitting the
    * subtree into a second corpus scan). */
  def minhashFromShingles(exploded: DataFrame, idCol: String,
      k: Int = 12, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    require(bands * rowsPerBand == k, "bands * rowsPerBand must equal k")
    val withKey = exploded.select(col(idCol), shingleKey(col("s")).as("x"))
    val hCols = (0 until k).map(i => min(mixed(i, col("x"))).as(s"h$i")) :+
      count(lit(1)).as("n_sh")
    val sig = withKey.groupBy(col(idCol)).agg(hCols.head, hCols.tail: _*)
    val bandCols = (0 until bands).map { j =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(r => col(s"h${j * rowsPerBand + r}")): _*))
    }
    sig.select(
      col(idCol),
      array((0 until k).map(i => col(s"h$i")): _*).as("sig"),
      array(bandCols: _*).as("bands"),
      col("n_sh"))
  }

  /** Exact n-gram Jaccard verification over candidate pairs, array-free
    * (VERDICT r2 #3): intersection sizes come from a (pair, shingle)
    * join-count over the exploded rows and union sizes from
    * |A| + |B| − |A∩B|, so the candidate shuffle carries single shingle
    * strings — never whole documents' shingle arrays. Rows in
    * `exploded` must be distinct (id, s) pairs ([[shingleRows]]).
    * Cost is O(Σ candidate-side shingles), not O(n²) — candidates must
    * come from [[minhashCandidates]]. */
  def jaccardVerifyExploded(candidates: DataFrame, exploded: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val pct = math.round(threshold * 10).toInt
    val hasN = candidates.columns.contains("n_sh_a")
    // the per-side counts travel as GROUP KEYS (functionally dependent
    // on the pair, so grouping is unchanged): group keys cannot be
    // column-pruned away, which keeps the duplicate-sensitive count in
    // the upstream signature aggregate referenced from THIS copy of the
    // candidates subtree too — otherwise Catalyst re-splits the shared
    // distinct-shingle exchange (see [[minhashFromShingles]])
    val keyCols = Seq("doc_a", "doc_b") ++ (if (hasN) Seq("n_sh_a", "n_sh_b") else Nil)
    val common = candidates.select(keyCols.map(col): _*)
      .join(exploded.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(exploded.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n_common"))
    val withCommon = candidates
      .join(common, keyCols, "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
    // per-side distinct-shingle counts: off the candidate rows when the
    // [[minhashCandidates]] path put them there, else one count join
    val withCounts =
      if (hasN)
        withCommon.withColumn("n_a", col("n_sh_a")).withColumn("n_b", col("n_sh_b"))
      else {
        val nsh = exploded.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        withCommon
          .join(nsh.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
          .join(nsh.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      }
    withCounts
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_common"))
      .withColumn("is_dup",
        when(col("n_common") * 10 >= col("n_union") * pct, 1L).otherwise(0L))
      .drop("n_a", "n_b", "n_sh_a", "n_sh_b")
  }

  /** Asymmetric CONTAINMENT verification over candidate pairs:
    * C(A→B) = |A∩B| / |A|. Detects sub-document duplication — a short
    * document wholly embedded in a longer one — which symmetric Jaccard
    * structurally misses (for |A| ≪ |B|, |A∩B|/|A∪B| stays below any
    * dup threshold even when A ⊆ B verbatim). Same array-free exploded
    * intersection-count shape as [[jaccardVerifyExploded]] (shingle
    * arrays never ride the candidate shuffle); containments are emitted
    * as exact integer rationals (·10⁴ then integer division), so any
    * engine reproduces them bit-for-bit — no float division. Candidates
    * must carry `n_sh_a`/`n_sh_b` ([[minhashCandidates]] over
    * [[minhashFromShingles]] output provides them); `exploded` is the
    * distinct (doc_id, s) rows from [[shingleRows]]. */
  def containmentVerify(candidates: DataFrame, exploded: DataFrame,
      minContainE4: Long = 0L): DataFrame = {
    val keyCols = Seq("doc_a", "doc_b", "n_sh_a", "n_sh_b")
    val common = candidates.select(keyCols.map(col): _*)
      .join(exploded.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(exploded.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n_common"))
    candidates
      .join(common, keyCols, "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("cont_a_e4", expr("(n_common * 10000) div n_sh_a"))
      .withColumn("cont_b_e4", expr("(n_common * 10000) div n_sh_b"))
      .filter(greatest(col("cont_a_e4"), col("cont_b_e4")) >= minContainE4)
      .drop("n_sh_a", "n_sh_b")
  }

  /** Array-interface wrapper over [[jaccardVerifyExploded]]:
    * `shingleSets` is (doc_id, shd) with `shd` a DISTINCT shingle
    * array. The arrays are exploded before the join so they never ride
    * the candidate shuffle. */
  def jaccardVerify(candidates: DataFrame, shingleSets: DataFrame,
      threshold: Double = 0.8): DataFrame =
    jaccardVerifyExploded(candidates,
      shingleSets.select(col("doc_id"), explode(col("shd")).as("s")), threshold)

  /** Connected components over an undirected pair list — the step after
    * near-dup verification that turns pairs into dedup CLUSTERS (pick
    * one canonical doc per component = `min` id).
    *
    * Algorithm: min-label propagation with pointer jumping. Each round,
    * a node takes the min of its own label and its neighbors' labels
    * (one equi-join on the edge list + one aggregate), then labels are
    * shortcut two levels (`comp := comp(comp)` twice, self-joins).
    * Rounds: the shortcut only follows label pointers, so it collapses
    * chains whose labels already lead toward the minimum (an id-sorted
    * path converges in a handful of rounds) but cannot carry a minimum
    * against them — with the minimum at the far end of a path whose
    * ids rise toward it, labels move about one hop per round, so the
    * worst case is O(diameter) rounds. Every data operation is a
    * distributed join/aggregate over the edge list, which is output of
    * LSH candidate verification — metadata-sized relative to the
    * corpus (pairs, not documents). Intermediates are checkpointed each
    * round so lineage doesn't grow with rounds: to the RELIABLE
    * checkpoint store when the session has one configured
    * (`sparkContext.setCheckpointDir` — the cluster deployment shape,
    * where a lost executor must not restart the whole propagation),
    * falling back to `localCheckpoint` otherwise (single-box runs,
    * where executor loss means the app died anyway).
    *
    * Convergence is detected from a single scalar aggregate per round:
    * min-label propagation only ever DECREASES labels, so the label sum
    * is strictly monotone until the fixed point — an unchanged
    * (sum, count) signature means no label moved. That is one light
    * aggregate job per round where a changed-row count would cost a
    * full self-join (the sum is carried as DECIMAL(38,0): exact, and
    * immune to overflow at any node-id/corpus scale). Because labels
    * only decrease, the loop always reaches that fixed point, and this
    * entry point runs until it does.
    *
    * Returns (id, comp): every node that appears in `pairs`, labeled
    * with the smallest id reachable from it. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponentsResult(pairs, aCol, bCol, maxIter = Int.MaxValue).labels

  /** [[connectedComponentsResult]] outcome: the labels, whether the
    * label propagation reached its fixed point within `maxIter`, and
    * how many rounds ran. `converged = false` means some label may
    * still be non-minimal. */
  final case class CcResult(labels: DataFrame, converged: Boolean, iterations: Int)

  /** Min-label propagation with pointer jumping, stopped after at most
    * `maxIter` rounds, returning the convergence outcome alongside the
    * labels (see [[connectedComponents]] for the algorithm). */
  def connectedComponentsResult(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): CcResult = {
    // reliable checkpoints when the session has a checkpoint dir (the
    // cluster shape: a lost executor replays from the store, not from
    // the whole propagation lineage); local otherwise
    val reliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(true)
    val edges = ckpt(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct())
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
    def jump(df: DataFrame): DataFrame = {
      val parents = df.select(col("id").as("p_id"), col("comp").as("p_comp"))
      df.join(parents, df("comp") === parents("p_id"), "left")
        .select(df("id"), coalesce(parents("p_comp"), df("comp")).as("comp"))
    }
    // ONE job per round (round 21, VERDICT r20 #6): mark the shortcut
    // frame with a LAZY localCheckpoint and let the signature
    // aggregate's own job materialize it — the previous shape paid an
    // eager-checkpoint materialization job PLUS the aggregate per
    // round. Lineage is still truncated every round (the loop's plan
    // cannot nest round over round), the labels' blocks land exactly
    // as before; only the separate materialization job is gone. Under
    // a RELIABLE checkpoint dir the eager per-round checkpoint is
    // retained — there the checkpoint write is its own job either way
    // and the point is durable truncation.
    def signature(df: DataFrame): (java.math.BigDecimal, Long) = {
      val row = df.agg(
        sum(col("comp").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("c")).head()
      (row.getDecimal(0), row.getLong(1))
    }
    var iter = 0
    var done = false
    var prevSig = Option.empty[(java.math.BigDecimal, Long)]
    while (!done && iter < maxIter) {
      val nbr = edges.join(labels.select(col("id").as("dst"), col("comp")), "dst")
        .select(col("src").as("id"), col("comp"))
      val stepped = labels.unionAll(nbr)
        .groupBy("id").agg(min("comp").as("comp"))
      val shortcut =
        if (reliable) ckpt(jump(jump(stepped)))
        else jump(jump(stepped)).localCheckpoint(eager = false)
      val sig = signature(shortcut)
      labels = shortcut
      done = sig._2 == 0L || prevSig.contains(sig)
      prevSig = Some(sig)
      iter += 1
    }
    CcResult(labels, converged = done, iterations = iter)
  }

  /** QUALITY-AWARE keeper election (round 20, VERDICT r19 #3): relabel
    * a component frame's labels with each cluster's INFORMATION-RICHEST
    * member — max (`richCol`, −id), id-ascending ties for determinism
    * (the dedup_cluster_best_keeper election, applied to any component
    * column). Because the relabeled frame still maps every member to
    * its cluster's keeper, the standard assembly (`label ≠ doc_id` →
    * drop, keeper = label) works UNCHANGED — min-id election is just
    * the identity relabel. Cost: one doc-keyed join of map-only per-doc
    * stats plus a component-cardinality aggregate; no corpus-wide
    * window. Self-consistent with the exact tier: byte-identical copies
    * carry identical richness, so the id tiebreak elects the exact
    * tier's own min-id owner, never a doc some cheaper tier dropped. */
  def electKeepers(comp: DataFrame, idCol: String, compCol: String,
      stats: DataFrame, richCol: String = "n_unique"): DataFrame = {
    val elected = comp.join(stats, Seq(idCol))
      .groupBy(compCol)
      .agg(max_by(col(idCol), struct(col(richCol), -col(idCol))).as("__elected"))
    comp.join(elected, Seq(compCol))
      .select(col(idCol), col("__elected").as(compCol))
  }
}
