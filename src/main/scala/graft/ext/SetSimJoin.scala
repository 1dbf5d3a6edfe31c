package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact Jaccard-threshold set-similarity joins via prefix filtering
  * (the AllPairs/PPJoin family: Chaudhuri et al., ICDE'06; Bayardo et al.,
  * WWW'07). The exact complement to the MinHash-LSH path in [[DedupOps]]:
  * LSH is probabilistic (a true pair can miss every band), these joins are
  * provably complete for `jaccard >= theta` — the form to reach for when a
  * dedup or linkage decision must not have false negatives.
  *
  * Why it scales where the naive form cannot: the naive exact join is an
  * all-pairs comparison (a disguised cross join — at 100 TB, game over).
  * Prefix filtering orders every element by ascending global document
  * frequency (rarest first) and keeps, per set x, only its first
  * `|x| - ceil(theta*|x|) + 1` elements. Any pair with Jaccard >= theta
  * shares an element inside BOTH prefixes (pigeonhole on the required
  * overlap `ceil(theta*max(|x|,|y|))`, using `|y| >= theta*|x|` which
  * Jaccard >= theta implies), so an equi-join on prefix elements loses
  * nothing — and because prefixes are each set's RAREST elements, the join
  * buckets are the smallest-frequency tail of the element distribution.
  * A size filter (`theta*|x| <= |y| <= |x|/theta`) prunes asymmetric
  * candidates before verification; only surviving candidate pairs pay the
  * exact intersection.
  *
  * Physical shape: one shuffle for the document-frequency aggregate, one
  * frequency join back (keyed on element), one per-set aggregate, one
  * prefix equi-join, map-side verification on the joined per-set arrays.
  * No stage is quadratic in the corpus; the candidate join carries the
  * [[graft.operators.FuzzyJoin]] maxBucket convention — a prefix element
  * shared by more than `maxBucket` sets raises loudly inside the consumed
  * join key (empty in any legal run, so the guard rides a broadcast left
  * join), because a hot prefix element is the cross-join failure mode that
  * low-entropy corpora (identical boilerplate everywhere) would otherwise
  * hit silently.
  */
object SetSimJoin {

  /** Element doc-frequencies — the shared global rarity order. */
  private def freq(elems: DataFrame): DataFrame =
    elems.groupBy("elem").agg(count(lit(1)).as("__df"))

  /** Per-set sorted element array (rarest first, element text as the
    * deterministic tiebreak — any shared TOTAL order preserves
    * completeness; this one minimises candidates and reproduces
    * bit-for-bit anywhere) + set size. */
  private def sortedSets(elems: DataFrame, df: DataFrame): DataFrame =
    elems.join(df, "elem")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("__df"), col("elem"))))
             .as("__ord"),
           count(lit(1)).as("sz"))
      .select(col("doc_id"),
        transform(col("__ord"), x => x.getField("elem")).as("set"),
        col("sz"))

  /** prefix = the first |x| - ceil(theta|x|) + 1 rarest elements, with the
    * 1-based in-set position for the positional filter. */
  private def prefixOf(sets: DataFrame, theta: Double): DataFrame = {
    val prefixLen = (col("sz") - ceil(col("sz") * lit(theta)) + 1).cast("int")
    sets.select(col("doc_id"), col("sz"),
        posexplode(slice(col("set"), lit(1), prefixLen))
          .as(Seq("__p0", "elem")))
      .select(col("doc_id"), col("sz"), col("elem"),
        (col("__p0") + 1).as("__pos"))
  }

  /** Jaccard-required overlap `ceil(θ/(1+θ)·(|x|+|y|))` over candidate
    * element-match columns, 6-dp-rounded BEFORE ceil (the house
    * round-before-any-float-decision rule): the product lands at
    * 2.0000000000000004 in doubles at exact integer boundaries, and a raw
    * ceil would demand one more overlap than the threshold does — the
    * false-negative class the randomized spec caught on the first
    * positional-filter attempt. */
  private def requiredOverlap(theta: Double): Column =
    ceil(round(lit(theta / (1 + theta)) * (col("__sza") + col("__szb")), 6))

  /** Per-ROW PPJoin positional bound (Xiao et al., WWW'08), applied INSIDE
    * the candidate join condition: an element match at positions
    * (__pa, __pb) caps the pair's overlap at `1 + min(|x|−pa, |y|−pb)`
    * (every shared element sits at-or-after the match in BOTH arrays —
    * they follow the same global frequency order). What the per-row
    * placement buys depends on the join regime, and both matter: in the
    * broadcast regime (prefix side fits — small corpora) the pair
    * aggregate is already exchange-free (the sets aggregate's doc-key
    * partitioning rides the join's probe side and satisfies the group-by
    * distribution; verified in the executed plan), so the bound shrinks
    * the aggregate's hash-table build — 64% of candidate element-match
    * rows at the 10x fixture (2.04M → 0.73M). In the at-scale SMJ regime
    * (AQE demotes the broadcasts once sets outgrow the threshold — the
    * 100-TB regime) the join output is ELEM-partitioned, the pair
    * aggregate genuinely shuffles, and the same pruning comes off the
    * wire (measured at the 50x fixture: 6.5M fewer shuffled records,
    * −14% wall).
    *
    * Soundness: positions of shared elements increase TOGETHER (same
    * total order), so the bound is monotone decreasing across a pair's
    * match rows — the pair's FIRST match row has the loosest bound. A
    * viable pair's first row therefore always survives (for it,
    * min-positions equal this row's positions, the exact condition the
    * post-aggregate filter checks), and when a first row fails, every
    * later row fails too — exactly the pairs the aggregate form drops. */
  private def posBound(required: Column): Column =
    lit(1) +
      least(col("__sza") - col("__pa"), col("__szb") - col("__pb")) >= required

  /** PPJoin positional filter over candidate element-match rows
    * (…, __sza, __szb, __pa, __pb): collapse to one row per pair
    * (absorbing the plain form's `.distinct()` — same exchange, strictly
    * more pruning) and require the first shared element's overlap upper
    * bound `1 + min(|x|−px, |y|−py)` to reach the Jaccard-required
    * overlap. With [[posBound]] now applied inside the join condition the
    * WHERE here is defense-in-depth (no surviving pair can fail it — see
    * the soundness note on [[posBound]]); the aggregate itself remains the
    * pair-collapse point feeding verification.
    *
    * Soundness of the per-pair min aggregation: both arrays follow the
    * SAME global frequency order, so a pair's globally-smallest shared
    * element minimises BOTH positions simultaneously — min(pa) and
    * min(pb) are that one element's coordinates whenever the pair can
    * reach θ (if its first shared element escaped a prefix, every shared
    * element would sit past one side's prefix, capping overlap below the
    * θ requirement — such pairs are CORRECT to drop). The bound argument
    * needs that no shared element precedes the first match in either
    * array, which the shared total order gives for free. */
  private def positionalFilter(matches: DataFrame, aCol: String, bCol: String,
                               theta: Double): DataFrame =
    matches.groupBy(aCol, bCol)
      .agg(first(col("__sza")).as("__sza"), first(col("__szb")).as("__szb"),
        min(col("__pa")).as("__mpa"), min(col("__pb")).as("__mpb"))
      .where(lit(1) +
        least(col("__sza") - col("__mpa"), col("__szb") - col("__mpb")) >=
        ceil(round(lit(theta / (1 + theta)) *
          (col("__sza") + col("__szb")), 6)))
      .select(aCol, bCol)

  /** Hot-prefix-element guard: the offending set is empty in any legal
    * run, so the check is a broadcast left join, never a second shuffle. */
  private def guarded(prefix: DataFrame, side: String,
                      maxBucket: Int): DataFrame = {
    val hot = prefix.groupBy("elem").agg(count(lit(1)).as("__psz"))
      .where(col("__psz") > maxBucket)
    prefix.join(broadcast(hot), Seq("elem"), "left")
      .withColumn("elem",
        when(col("__psz").isNull, col("elem")).otherwise(raise_error(concat(
          lit(s"SetSimJoin: $side prefix element shared by more than " +
            s"maxBucket=$maxBucket sets — a disguised cross join; use " +
            "higher-entropy elements (longer shingles) or raise maxBucket; " +
            "group size = "), col("__psz").cast("string")))))
      .drop("__psz")
  }

  /** Exact verification on the two per-set arrays — map-side after the
    * two 1:1 set joins; only candidates pay this, never all pairs. */
  private def verify(cands: DataFrame, setsA: DataFrame, setsB: DataFrame,
                     aCol: String, bCol: String, theta: Double): DataFrame =
    cands
      .join(setsA.select(col("doc_id").as(aCol), col("set").as("__sa"),
        col("sz").as("__na")), aCol)
      .join(setsB.select(col("doc_id").as(bCol), col("set").as("__sb"),
        col("sz").as("__nb")), bCol)
      .select(col(aCol), col(bCol), col("__na"), col("__nb"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long")
          .as("__ni"))
      .withColumn("__j",
        col("__ni") / (col("__na") + col("__nb") - col("__ni")).cast("double"))
      .where(col("__j") >= theta)
      .select(col(aCol), col(bCol), round(col("__j"), 4).as("jaccard"))

  /** Symmetric size filter: Jaccard >= theta forces
    * theta*|x| <= |y| <= |x|/theta. */
  private def sizeFilter(theta: Double) =
    col("__szb") * lit(theta) <= col("__sza") &&
      col("__sza") * lit(theta) <= col("__szb")

  /** Self-join form (dedup within one collection).
    *
    * @param elems  exploded (doc_id, elem) rows, distinct per document
    *               (e.g. [[TextOps.explodeShingles]] output)
    * @param theta  Jaccard threshold in (0, 1]
    * @return (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded
    *         to 4 decimals, exactly the pairs with Jaccard >= theta
    */
  def selfJoin(elems: DataFrame, theta: Double,
               maxBucket: Int = 100000): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, s"theta must be in (0, 1], got $theta")
    require(maxBucket > 0, "maxBucket must be positive")
    // the sets table feeds FOUR branches (two candidate sides + two verify
    // joins) and Catalyst does not share subtrees across branches, so the
    // tokenize+frequency-join+aggregate pipeline recomputes per branch.
    // Deliberately NOT materialized: measured at sf0.1 (Bench subset, idle
    // machine), plain recompute is 2x faster than an eager localCheckpoint
    // (3.1 s vs 6.8 s) — caching rows that each carry the full sorted
    // element array costs more than recomputing the map-heavy pipeline,
    // and a lazy checkpoint is worse still (concurrent candidate sides
    // race to fill the cache). Callers who find the balance flipped (very
    // expensive upstream `elems`) should persist `elems` — cache lifecycle
    // belongs to the caller (the boilerplate convention).
    //
    // r20 addendum: a stats-preserving PARQUET ROUND-TRIP of the sets table
    // (the r19 verdict's remaining idea for this family) was measured and
    // rejected too — x_setsim_join 3.87 -> 5.64 s / shuf_rec 99.5k -> 163k
    // at local[32] (x_setsim_rs 2.25 -> 4.28, x_contain_join 2.01 -> 3.33,
    // back-to-back same-session runs): the broadcasts DO survive, but the
    // read-back scan loses the sets aggregate's doc_id hash-partitioning,
    // so the pair aggregate and both verify joins re-exchange what the
    // recompute form gets for free, and the serialized write+read job adds
    // ~1 s of wall. The r19 "197 executor-CPU-s at 8 cores" that motivated
    // materializing was a bench-harness artifact (accumulated storage
    // blocks; isolated c8 xcpu is ~5 s — see OPTIMIZATION_r20.md), so the
    // recompute CPU was never the binding cost.
    val sets = sortedSets(elems, freq(elems))
    val g = guarded(prefixOf(sets, theta), "self", maxBucket)
    val a = g.select(col("elem"), col("doc_id").as("doc_a"),
      col("sz").as("__sza"), col("__pos").as("__pa"))
    val b = g.select(col("elem").as("__elem_b"),
      col("doc_id").as("doc_b"), col("sz").as("__szb"),
      col("__pos").as("__pb"))
    val cands = positionalFilter(
      a.join(b,
        col("elem") === col("__elem_b") && col("doc_a") < col("doc_b") &&
          sizeFilter(theta) && posBound(requiredOverlap(theta))),
      "doc_a", "doc_b", theta)
    verify(cands, sets, sets, "doc_a", "doc_b", theta)
  }

  /** Two-table (R-S / record-linkage) form: every (l_id, r_id) pair
    * across the two collections with Jaccard >= theta — the exact-recall
    * linkage join (match a new increment against a registry, a dirty feed
    * against a master list) where LSH's false negatives are unacceptable.
    *
    * The shared global rarity order comes from the UNION's document
    * frequencies: completeness only needs ONE total order applied to both
    * sides, and union frequency makes an element that is common anywhere
    * late in every prefix. Both sides' prefixes carry the hot-element
    * guard (a hot probe prefix element joined to a hot indexed one is the
    * same |L|x|R| blowup, the [[graft.operators.FuzzyJoin.qgramJoin]]
    * convention). Key spaces of the two sides are independent — ids never
    * compare across sides. */
  /** Asymmetric containment join: every (l_id, r_id) with
    * `|x ∩ y| / |x| >= theta` — x from the left (the possibly-contained
    * side), y from the right (the container). This is the
    * quote/wrapper/envelope detector: a doc whose content is mostly
    * swallowed by a larger doc has LOW Jaccard (the big doc's extra
    * content dilutes the union) but HIGH containment, so a
    * Jaccard-threshold dedup never sees it.
    *
    * Prefix filtering still applies on the LEFT: containment >= theta
    * forces overlap >= ceil(theta·|x|), and at most
    * `|x| - ceil(theta·|x|)` of x's elements fall outside its prefix, so
    * some common element lies inside it — but nothing bounds the
    * container's size, so the RIGHT side joins with its FULL posting
    * list (no prefix can be cut without a size bound; the classic
    * containment-join asymmetry). Two per-row prunes ride the join
    * condition: the overlap-capacity bound `|y| >= ceil(theta·|x|)`
    * (y must hold the overlap) and the positional bound
    * `1 + min(|x|−pa, |y|−pb) >= ceil(theta·|x|)` — both arrays follow
    * the same global frequency order, so a true pair's FIRST shared
    * element caps the overlap from its own coordinates exactly as in
    * [[posBound]], and a frequent element (late in both orders) prunes
    * inside the join instead of fanning out into the pair-distinct
    * aggregate. Both sides keep
    * the hot-element guard; candidate buckets are x-prefix-rarity-sized
    * on the left but full-frequency on the right, so low-entropy
    * container corpora hit the guard earlier here than in [[rsJoin]] —
    * that is the honest cost of the asymmetric predicate. */
  def containJoin(leftElems: DataFrame, rightElems: DataFrame, theta: Double,
                  maxBucket: Int = 100000): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, s"theta must be in (0, 1], got $theta")
    require(maxBucket > 0, "maxBucket must be positive")
    val df = freq(leftElems.unionByName(rightElems))
    val setsL = sortedSets(leftElems, df)
    val setsR = sortedSets(rightElems, df)
    val gl = guarded(prefixOf(setsL, theta), "left", maxBucket)
      .select(col("elem"), col("doc_id").as("l_id"), col("sz").as("__sza"),
        col("__pos").as("__pa"))
    // full right postings with their df-order positions (sz for the
    // overlap-capacity prune, position for the positional prune)
    val rPost = setsR.select(col("doc_id").as("r_id"), col("sz").as("__szb"),
        posexplode(col("set")).as(Seq("__pb0", "__elem_b")))
      .select(col("r_id"), col("__szb"), col("__elem_b"),
        (col("__pb0") + 1).as("__pb"))
    val gr = guarded(rPost.withColumnRenamed("__elem_b", "elem"),
        "right", maxBucket)
      .withColumnRenamed("elem", "__elem_b")
    // required overlap ceil(theta*|x|), 6-dp-rounded before ceil (the
    // requiredOverlap convention: theta*|x| can land above the exact
    // integer in doubles — e.g. 0.07*100 = 7.000000000000001 — and a raw
    // ceil would demand one more overlap than the threshold does)
    val reqC = ceil(round(col("__sza") * lit(theta), 6))
    val cands = gl.join(gr,
        col("elem") === col("__elem_b") &&
          col("__szb") >= reqC && posBound(reqC))
      .select("l_id", "r_id").distinct()
    // verify on containment, not Jaccard
    cands
      .join(setsL.select(col("doc_id").as("l_id"), col("set").as("__sa"),
        col("sz").as("__na")), "l_id")
      .join(setsR.select(col("doc_id").as("r_id"), col("set").as("__sb")),
        "r_id")
      .select(col("l_id"), col("r_id"), col("__na"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long")
          .as("__ni"))
      .withColumn("__c", col("__ni") / col("__na").cast("double"))
      .where(col("__c") >= theta)
      .select(col("l_id"), col("r_id"), round(col("__c"), 4).as("containment"))
  }

  def rsJoin(leftElems: DataFrame, rightElems: DataFrame, theta: Double,
             maxBucket: Int = 100000): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, s"theta must be in (0, 1], got $theta")
    require(maxBucket > 0, "maxBucket must be positive")
    // per-side sets each feed a candidate branch + a verify join; same
    // no-materialization reasoning as selfJoin
    val df = freq(leftElems.unionByName(rightElems))
    val setsL = sortedSets(leftElems, df)
    val setsR = sortedSets(rightElems, df)
    val gl = guarded(prefixOf(setsL, theta), "left", maxBucket)
      .select(col("elem"), col("doc_id").as("l_id"), col("sz").as("__sza"),
        col("__pos").as("__pa"))
    val gr = guarded(prefixOf(setsR, theta), "right", maxBucket)
      .select(col("elem").as("__elem_b"), col("doc_id").as("r_id"),
        col("sz").as("__szb"), col("__pos").as("__pb"))
    val cands = positionalFilter(
      gl.join(gr, col("elem") === col("__elem_b") && sizeFilter(theta) &&
        posBound(requiredOverlap(theta))),
      "l_id", "r_id", theta)
    verify(cands, setsL, setsR, "l_id", "r_id", theta)
  }
}
