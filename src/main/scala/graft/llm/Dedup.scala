package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{GraftShims => ExpressionUtils}
import graft.functions.{ArrayIntersectCount, MinHashSig, SimHash60, WordShingles}
import graft.queries.{GQ, QueryDefs}
import QueryDefs._

/** Near-duplicate detection for LLM training data (SURVEY §2 C2–C4).
  *
  * Scale shape: signatures (minhash / simhash) are computed per-row by
  * custom Catalyst expressions (one tight loop per row — Spark's array
  * HOFs are interpreted per element) — no explode, no shuffle. Only the
  * candidate-pair join shuffles, and it carries ids + band keys only
  * (uniform hashes, skew-free). Exact jaccard verification runs on
  * candidates only, via a hash-set intersection expression.
  *
  * md5 anchors the hash family because it is bit-identical in Spark and
  * DuckDB (one digest per shingle/token; the 16 minhash functions are
  * cheap universal hashes over a 30-bit value extracted from it).
  */
object Dedup {

  private val NumHashes = 16
  private val NumBands = 4 // 4 rows per band

  /** doc_id, sh (distinct word-3-gram shingles), non-empty. Uses the
    * custom WordShingles expression: one tight per-row loop instead of
    * per-element interpreted HOFs (~20x on this path).
    */
  private def shingled(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    table(s, d, "documents")
      .withColumn("sh",
        ExpressionUtils.column(WordShingles(ExpressionUtils.expression($"text"), 3)))
      .filter(size($"sh") > 0)
      .select($"doc_id", $"sh")
  }

  // Universal-hash family over a 30-bit value extracted from one md5 per
  // shingle: h_j(v) = (A_j * v + B_j) mod P. One digest instead of
  // NumHashes digests per shingle; constants are build-time deterministic
  // and embedded in the oracle SQL.
  private val P = 1073741789L // prime < 2^30
  private[graft] val hashAB: Seq[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h7(s: String): Long = {
      val d = md.digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString.take(7), 16)
    }
    (0 until NumHashes).map(j => ((h7(s"A$j") | 1L), h7(s"B$j")))
  }

  /** sig[j] = min over shingles of h_j, via the custom MinHashSig
    * expression (single md5 + 16 integer hashes per shingle, one loop).
    */
  private def minhashSig(sh: Column): Column =
    ExpressionUtils.column(MinHashSig(ExpressionUtils.expression(sh), hashAB, P))

  /** Exact Jaccard; the intersection count uses the hash-set expression
    * (same value as the membership-filter formulation, so the SQL mirror
    * is unchanged and the double division stays bit-identical).
    */
  private def jaccard(sa: Column, sb: Column): Column = {
    val inter = ExpressionUtils.column(ArrayIntersectCount(
      ExpressionUtils.expression(sa), ExpressionUtils.expression(sb))).cast("double")
    val tot = (size(sa) + size(sb)).cast("double")
    inter / (tot - inter)
  }

  /** Exact-duplicate collapse BEFORE the candidate join — the
    * degenerate-band-key guard. Identical shingle SETS (boilerplate
    * pages, mirrored docs) share every band, so k copies of one page put
    * k rows on each of their band keys and the candidate join emits
    * k\u00b2/2 pairs out of that ONE key — a skewed quadratic shuffle, the
    * classic scale-killer on a real web corpus. Collapsing to ONE
    * representative per distinct set (the group's min doc_id) before the
    * join and expanding results back over members afterwards is
    * semantics-preserving: identical sets have identical signatures,
    * identical band keys, jaccard exactly 1.0 with each other, and
    * identical jaccard against every third document.
    *
    * Scale shape: ONE heavy scan (shingles + signature + content
    * fingerprint per row — all per-row expressions), checkpointed as
    * id+hash rows so every consumer reuses it without recomputing; the
    * shingle ARRAYS never shuffle. A family-size gate (probed by one
    * map-side-combined aggregation over the checkpoint) skips the
    * collapse machinery outright on corpora without large exact-copy
    * families; when it engages, reps come from a map-side-combined
    * groupBy (a hot fingerprint ships one row per map partition, never
    * k) and the member map from a window over per-doc rows. Residual
    * near-dup (not exact) band skew is AQE skew-join territory.
    *
    * Returns (repBands, members): repBands = (doc_id, b, bkey) band rows
    * of one representative per distinct content; members = (doc_id,
    * rep_id, gsize) mapping every input doc to its representative.
    */
  private[llm] def collapsedBands(docs: DataFrame, numBands: Int,
      rowsPer: Int): (DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    // \u0001 never occurs in a shingle ([a-z0-9 ] only), so the joined
    // string is an unambiguous encoding of the sorted set.
    val bandsFp = stableCheckpoint(docs
      .withColumn("fp", md5(concat_ws("\u0001", array_sort($"sh"))))
      .withColumn("sig", minhashSig($"sh"))
      .select($"doc_id", $"fp",
        bandCols($"sig", numBands, rowsPer).as(Seq("b", "bkey"))))
    // Collapse GATE: the collapse exists to kill the k\u00b2 candidate
    // blowup of a LARGE exact-copy family (k copies of one boilerplate
    // page). When the largest family is small, every family's pairs are
    // cheap to verify directly and the collapse machinery (rep groupBy,
    // member-map window, expansion joins) is pure overhead — so it
    // engages only past a family-size threshold. The probe is one
    // map-side-combined aggregation over the checkpoint (a hot
    // fingerprint ships one partial count per map partition, never k
    // rows). Semantics-preserving either way: identical sets share
    // every band, so the uncollapsed pipeline yields the same pairs at
    // jaccard exactly 1.0 (the r19 equivalence argument, applied in
    // reverse). The threshold is scale-INdependent (a family-size
    // constant, not a corpus-size tuning): the residual quadratic is
    // bounded by minGroup\u00b2 pairs per family.
    val minGroup = s.conf.get("spark.graft.dedup.collapseMinGroup", "8").toLong
    val gRow = bandsFp.filter($"b" === 0).groupBy($"fp")
      .agg(count(lit(1)).as("g")).agg(max($"g")).head()
    val maxG = if (gRow.isNullAt(0)) 0L else gRow.getLong(0)
    if (maxG < minGroup) {
      // no family worth collapsing: bands pass through (every doc is its
      // own representative) and the member map is the identity — the
      // expansion joins downstream become id-identity and the within-
      // group leg empty, while exact-copy pairs of the small families
      // surface through the candidate join at jaccard exactly 1.0
      (bandsFp.select($"doc_id", $"b", $"bkey"),
        bandsFp.filter($"b" === 0)
          .select($"doc_id", $"doc_id".as("rep_id"), lit(1L).as("gsize")))
    } else {
      // large families present: the r19 collapse shapes — reps from a
      // map-side-combined groupBy (a hot fingerprint ships one row per
      // map partition, never k; a window here would shuffle all k\u00d7bands
      // rows of a hot family into one partition), member map from a
      // window over the per-doc rows
      val repBands = bandsFp.groupBy($"b", $"bkey", $"fp")
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id", $"b", $"bkey")
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"fp")
      val members = bandsFp.filter($"b" === 0)
        .select($"doc_id",
          min($"doc_id").over(w).as("rep_id"),
          count(lit(1)).over(w).as("gsize"))
      (repBands, members)
    }
  }

  /** posexplode'd (b, bkey) band columns for a signature column at the
    * given banding layout.
    */
  private def bandCols(sigCol: Column, numBands: Int, rowsPer: Int): Column =
    posexplode(array((0 until numBands).map { b =>
      concat_ws("|",
        (0 until rowsPer).map(r => element_at(sigCol, b * rowsPer + r + 1)): _*)
    }: _*))

  /** Verified near-dup pairs over representatives: band join for
    * candidates, exact jaccard on candidates only (the shingle joins
    * read the representatives' own rows straight from `docs` — a
    * representative IS a real document). Output (doc_a, doc_b, jaccard)
    * with doc_a < doc_b, jaccard >= threshold.
    */
  private[llm] def verifiedRepPairs(docs: DataFrame, repBands: DataFrame,
      threshold: Double): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val l = repBands.select($"doc_id".as("doc_a"), $"b", $"bkey")
    val r = repBands.select($"doc_id".as("doc_b"), $"b", $"bkey")
    val cand = l.join(r, Seq("b", "bkey")).filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
    cand
      .join(docs.select($"doc_id".as("doc_a"), $"sh".as("sa")), Seq("doc_a"))
      .join(docs.select($"doc_id".as("doc_b"), $"sh".as("sb")), Seq("doc_b"))
      .withColumn("jaccard", jaccard($"sa", $"sb"))
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", $"jaccard")
  }

  /** Expand representative-level pairs back over group members. Cross-
    * group pairs inherit the representatives' jaccard (identical sets);
    * within-group pairs (k >= 2 exact copies) have jaccard exactly 1.0 —
    * the same value the uncollapsed pipeline computes, since
    * n/(2n - n) = 1.0 in IEEE double. The expansion joins are
    * output-bounded: every joined row IS an output row.
    */
  private[llm] def expandPairs(repPairs: DataFrame,
      members: DataFrame): DataFrame = {
    val s = repPairs.sparkSession
    import s.implicits._
    val m = members.select($"rep_id", $"doc_id")
    val cross = repPairs
      .join(m.select($"rep_id".as("doc_a"), $"doc_id".as("da")), Seq("doc_a"))
      .join(m.select($"rep_id".as("doc_b"), $"doc_id".as("db")), Seq("doc_b"))
      .select(least($"da", $"db").as("doc_a"),
        greatest($"da", $"db").as("doc_b"), $"jaccard")
    val within = m.select($"rep_id", $"doc_id".as("da"))
      .join(m.select($"rep_id", $"doc_id".as("db")), Seq("rep_id"))
      .filter($"da" < $"db")
      .select($"da".as("doc_a"), $"db".as("doc_b"), lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** (doc_id, b, bkey) LSH band keys for a documents frame OR STREAM —
    * the per-row leg of the minhash pipeline (shingle -> signature ->
    * band keys), shared with the streaming admission operator (D12).
    * Pure per-row expressions: safe under Structured Streaming, no
    * shuffle, no state.
    */
  private[graft] def bandKeys(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("sh",
        ExpressionUtils.column(WordShingles(ExpressionUtils.expression($"text"), 3)))
      .filter(size($"sh") > 0)
      .withColumn("sig", minhashSig($"sh"))
      .select(
        $"doc_id",
        posexplode(array((0 until NumBands).map { b =>
          concat_ws("|",
            (0 until NumHashes / NumBands).map(r =>
              element_at($"sig", b * (NumHashes / NumBands) + r + 1)): _*)
        }: _*)).as(Seq("b", "bkey")))
  }

  /** DuckDB CTE chain (d, sigs, bands) mirroring [[bandKeys]], for
    * oracles outside this file.
    */
  private[graft] def duckBandsCte: String = s"""
      d AS ($duckShingled),
      sigs AS (
        SELECT doc_id,
          [${hashAB.map { case (a, b) => s"list_min(list_transform(vs, v -> ($a*v + $b) % $P))" }.mkString(", ")}] AS sig
        FROM (SELECT doc_id,
          list_transform(sh, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 1073741824) AS vs
          FROM d)),
      bands AS (
        SELECT doc_id, u.b AS b,
          concat_ws('|', sig[4*u.b+1], sig[4*u.b+2], sig[4*u.b+3], sig[4*u.b+4]) AS bkey
        FROM sigs, (SELECT unnest([0,1,2,3]) AS b) u)"""

  private val duckShingled = """
    SELECT doc_id, sh FROM (
      SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
        THEN list_transform(generate_series(1, len(t)-2),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
        ELSE [] END) AS sh
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
            FROM documents))
    WHERE len(sh) > 0"""

  private val duckJaccard =
    """CAST(len(list_filter(x.sh, e -> list_contains(y.sh, e))) AS DOUBLE)
       / (CAST(len(x.sh) + len(y.sh) AS DOUBLE)
          - CAST(len(list_filter(x.sh, e -> list_contains(y.sh, e))) AS DOUBLE))"""

  /** Distributed connected components by alternating large-star /
    * small-star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): converges in O(log n) rounds
    * regardless of component DIAMETER — min-label propagation needs
    * diameter-many rounds, which a templated-spam duplicate chain in a
    * web corpus can push past any fixed cap. Input: undirected edge
    * pairs (src, dst); output: one row (doc, lbl) per node that appears
    * in an edge, lbl = minimum id in its component.
    *
    * Each round shuffles only (id, id) pairs grouped by node — no
    * payloads — and the edge set shrinks monotonically toward the
    * per-component stars, so the 100-TB cost profile is a handful of
    * id-only shuffles. Fixpoint = edge multiset unchanged (checked by
    * count + order-independent hash sum); a 50-round cap would need a
    * graph with >2^50 nodes to bind, and failure to converge raises
    * rather than mislabeling silently.
    */
  private[llm] def connectedComponents(edgePairs: DataFrame): DataFrame = {
    val s = edgePairs.sparkSession
    import s.implicits._

    // For each node u, connect every strictly-larger neighbor to the
    // minimum of u's closed neighborhood.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select($"v".as("u"), $"u".as("v")))
      val m = sym.groupBy($"u").agg(min(least($"v", $"u")).as("m"))
      sym.join(m, Seq("u"))
        .filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .filter($"u" =!= $"v")
        .distinct()
    }

    // Orient edges large->small; connect each node's smaller neighbors
    // (and the node itself) to the minimum among them.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
        .filter($"u" =!= $"v")
      val m = dir.groupBy($"u").agg(min($"v").as("m"))
      dir.join(m, Seq("u"))
        .select($"v".as("u"), $"m".as("v"))
        .union(m.select($"u", $"m".as("v")))
        .filter($"u" =!= $"v")
        .distinct()
    }

    // order-independent digest of the edge set; decimal sum cannot
    // overflow (ANSI mode makes a Long sum of hashes a runtime error)
    def checksum(e: DataFrame): (Long, String) =
      e.agg(count(lit(1)),
          coalesce(sum(xxhash64($"u", $"v").cast("decimal(20,0)")), lit(0)).cast("string"))
        .as[(Long, String)].head()

    // localCheckpoint (eager) rather than persist: each round references
    // the previous edge set several times, so keeping full lineage makes
    // the logical plan grow exponentially with rounds — checkpointing
    // truncates it to the materialized RDD (tiny: id pairs only, and the
    // set shrinks toward one star edge per non-root node).
    val pairs = edgePairs.select($"src".as("u"), $"dst".as("v"))
      .distinct().transform(stableCheckpoint)
    var e = pairs.filter($"u" =!= $"v")
    var prev = checksum(e)
    // METADATA-SIZED edge sets short-circuit to a driver union-find:
    // every star-contraction round costs several id-only shuffles plus
    // two fixpoint-probe jobs, a fixed multi-second floor that dwarfs a
    // small component computation (dedup pair sets are a sliver of the
    // corpus at every scale — even a 100-TB run's VERIFIED duplicate
    // edges are typically thousands, not billions). The cutover is a
    // bounded collect (ids only, ~16 B/edge; 100k edges = 1.6 MB — the
    // same order as a broadcast build side), NOT unbounded driver work:
    // past the threshold the O(log n) distributed contraction runs
    // unchanged. Labels are identical: union-by-min root keeps each
    // component's root at its minimum id, one row per node of
    // `edgePairs` (a self-loop alone makes a singleton component).
    val localMax = s.conf.get("spark.graft.dedup.ccLocalMaxEdges", "100000").toLong
    if (prev._1 <= localMax) {
      val edges = pairs.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (u, v) =>
        parent.getOrElseUpdate(u, u)
        parent.getOrElseUpdate(v, v)
        val ru = find(u); val rv = find(v)
        if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
      }
      val labels = parent.keys.toSeq.sorted.map(x => (x, find(x)))
      return s.createDataset(labels).toDF("doc", "lbl")
    }
    val verts = edgePairs.select($"src".as("doc"))
      .union(edgePairs.select($"dst".as("doc"))).distinct().persist()
    var converged = false
    var iter = 0
    while (!converged && iter < 50) {
      // superseded checkpoint RDDs are freed by Spark's ContextCleaner
      // once unreferenced — nothing pins more than two edge sets at once
      e = smallStar(largeStar(e)).transform(stableCheckpoint)
      val cur = checksum(e)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    require(converged,
      s"connectedComponents did not reach a star fixpoint in $iter rounds")
    // At fixpoint the graph is a union of stars: every non-minimum node
    // has exactly one edge, to its component minimum.
    val out = verts
      .join(e.select($"u".as("doc"), $"v".as("lbl")), Seq("doc"), "left")
      .select($"doc", coalesce($"lbl", $"doc").as("lbl"))
      .transform(stableCheckpoint)
    verts.unpersist()
    out
  }

  val queries: Seq[GQ] = Seq(
    // C2 + C3 ----------------------------------------------------------
    GQ("dedup_minhash_lsh", (s, d) => {
      import s.implicits._
      // deliberately NOT persisted: the query fn returns a lazy plan, so an
      // unpersist could never run at the right time (round-1 leak), and at
      // 100 TB pinning the full shingle set in executor memory is its own
      // hazard — recomputing the per-row shingle expression from the scan
      // is cheap CPU and shuffle-free
      val docs = shingled(s, d)
      // exact copies collapse to one representative per distinct shingle
      // set before banding (the degenerate-band-key guard — see
      // collapseExact); bands carry only (doc_id, band, key): the
      // candidate join and the distinct shuffle ids, never shingle arrays
      val (repBands, members) = collapsedBands(docs, NumBands, NumHashes / NumBands)
      expandPairs(verifiedRepPairs(docs, repBands, 0.7), members)
        .orderBy($"doc_a", $"doc_b")
    }, Some(s"""
      WITH d AS ($duckShingled),
      sigs AS (
        SELECT doc_id,
          [${hashAB.map { case (a, b) => s"list_min(list_transform(vs, v -> ($a*v + $b) % $P))" }.mkString(", ")}] AS sig
        FROM (SELECT doc_id,
          list_transform(sh, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 1073741824) AS vs
          FROM d)),
      bands AS (
        SELECT doc_id, u.b AS b,
          concat_ws('|', sig[4*u.b+1], sig[4*u.b+2], sig[4*u.b+3], sig[4*u.b+4]) AS bkey
        FROM sigs, (SELECT unnest([0,1,2,3]) AS b) u),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM bands a JOIN bands c ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id)
      SELECT doc_a, doc_b, $duckJaccard AS jaccard
      FROM cand JOIN d x ON x.doc_id = doc_a JOIN d y ON y.doc_id = doc_b
      WHERE $duckJaccard >= 0.7
      ORDER BY doc_a, doc_b"""), bench = true),

    // C3: exact n-gram jaccard at a looser threshold (0.5), verified on
    // LSH candidates only. Round 1 blocked on `source` and self-joined
    // within the block — O(n^2) per block, a cartesian blowup when a
    // 100 TB corpus has a handful of sources. Candidates now come from
    // the same minhash signatures as C2, banded 8x2 (two rows per band:
    // P[candidate | J=0.5] = 1-(1-0.5^2)^8 ~ 0.9, vs 0.23 for C2's 4x4
    // banding) — shuffle carries ids + band keys only.
    GQ("dedup_ngram_jaccard", (s, d) => {
      import s.implicits._
      val docs = shingled(s, d)
      // same exact-copy collapse as C2, 8x2 banding for the looser 0.5 bar
      val (repBands, members) = collapsedBands(docs, 8, 2)
      expandPairs(verifiedRepPairs(docs, repBands, 0.5), members)
        .orderBy($"doc_a", $"doc_b")
    }, Some(s"""
      WITH d AS ($duckShingled),
      sigs AS (
        SELECT doc_id,
          [${hashAB.map { case (a, b) => s"list_min(list_transform(vs, v -> ($a*v + $b) % $P))" }.mkString(", ")}] AS sig
        FROM (SELECT doc_id,
          list_transform(sh, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 1073741824) AS vs
          FROM d)),
      bands AS (
        SELECT doc_id, u.b AS b,
          concat_ws('|', sig[2*u.b+1], sig[2*u.b+2]) AS bkey
        FROM sigs, (SELECT unnest([0,1,2,3,4,5,6,7]) AS b) u),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM bands a JOIN bands c ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id)
      SELECT doc_a, doc_b, $duckJaccard AS jaccard
      FROM cand JOIN d x ON x.doc_id = doc_a JOIN d y ON y.doc_id = doc_b
      WHERE $duckJaccard >= 0.5
      ORDER BY doc_a, doc_b""")),

    // C14: near-dup pairs -> clusters -> canonical survivors -------------
    // What a pipeline actually consumes: connected components over the
    // verified near-dup pairs, one canonical doc (min id) per cluster.
    // Uses large-star/small-star contraction (connectedComponents above):
    // O(log n) rounds even for deep duplicate CHAINS, where plain label
    // propagation needs diameter-many rounds. The DuckDB oracle mirrors
    // the component semantics with a recursive CTE.
    GQ("dedup_cluster", (s, d) => {
      import s.implicits._
      val docs = shingled(s, d)
      // exact copies collapse to one representative BEFORE banding and
      // connected components (the per-group pairs are implicit: k copies
      // form a clique whose min is the group rep), so the candidate join
      // and CC run on distinct contents only — the label expansion back
      // over members is a linear id-only join. cluster_id stays the min
      // doc id of the component: every member's id >= its group rep's id,
      // so min over reps == min over docs.
      val (repBands, members) = collapsedBands(docs, NumBands, NumHashes / NumBands)
      val pairs = verifiedRepPairs(docs, repBands, 0.7)
        .select($"doc_a", $"doc_b")
      // only contents that appear in dup pairs (or have >= 2 exact
      // copies) participate, a sliver of the corpus; labels are already
      // materialized (localCheckpoint) so no cache outlives the call
      val labels = connectedComponents(
        pairs.select($"doc_a".as("src"), $"doc_b".as("dst")))
      members
        .join(labels.select($"doc".as("rep_id"), $"lbl"), Seq("rep_id"), "left")
        .filter($"gsize" >= 2 || $"lbl".isNotNull)
        .select($"doc_id",
          coalesce($"lbl", $"rep_id").as("cluster_id"),
          ($"doc_id" === coalesce($"lbl", $"rep_id")).as("is_canonical"))
        .orderBy($"doc_id")
    }, Some(s"""
      WITH RECURSIVE d AS ($duckShingled),
      sigs AS (
        SELECT doc_id,
          [${hashAB.map { case (a, b) => s"list_min(list_transform(vs, v -> ($a*v + $b) % $P))" }.mkString(", ")}] AS sig
        FROM (SELECT doc_id,
          list_transform(sh, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 1073741824) AS vs
          FROM d)),
      bands AS (
        SELECT doc_id, u.b AS b,
          concat_ws('|', sig[4*u.b+1], sig[4*u.b+2], sig[4*u.b+3], sig[4*u.b+4]) AS bkey
        FROM sigs, (SELECT unnest([0,1,2,3]) AS b) u),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM bands a JOIN bands c ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
      pairs AS (
        SELECT doc_a, doc_b
        FROM cand JOIN d x ON x.doc_id = doc_a JOIN d y ON y.doc_id = doc_b
        WHERE $duckJaccard >= 0.7),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
      verts AS (SELECT DISTINCT src AS doc FROM edges),
      cc AS (
        SELECT doc, doc AS lbl FROM verts
        UNION
        SELECT e.dst AS doc, cc.lbl FROM cc JOIN edges e ON e.src = cc.doc)
      SELECT doc AS doc_id, MIN(lbl) AS cluster_id,
        CAST(doc = MIN(lbl) AS BOOLEAN) AS is_canonical
      FROM cc GROUP BY doc ORDER BY doc_id""")),

    // C4 ---------------------------------------------------------------
    // 60-bit simhash from the first 15 hex nibbles of per-token md5 (60
    // keeps the value positive in engines without unsigned 64-bit);
    // candidates share a 15-bit band, verified by hamming distance.
    GQ("dedup_simhash", (s, d) => {
      import s.implicits._
      val df0 = table(s, d, "documents")
        .withColumn("t", tokens($"text"))
        .filter(size($"t") > 0)
      val sim = df0.withColumn("simhash",
          ExpressionUtils.column(SimHash60(ExpressionUtils.expression($"t"))))
        .select($"doc_id", $"simhash")
      val bands = sim.select($"doc_id", $"simhash",
        posexplode(array((0 until 4).map(j =>
          shiftright($"simhash", 15 * j).bitwiseAND(lit(32767L))): _*)).as(Seq("j", "band")))
      val l = bands.select($"doc_id".as("doc_a"), $"simhash".as("ha"), $"j", $"band")
      val r = bands.select($"doc_id".as("doc_b"), $"simhash".as("hb"), $"j", $"band")
      l.join(r, Seq("j", "band")).filter($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b", bit_count($"ha".bitwiseXOR($"hb")).cast("long").as("hamming"))
        .distinct()
        .filter($"hamming" <= 4)
        .orderBy($"doc_a", $"doc_b")
    }, {
      def nibSql(i: Int) =
        s"(CASE WHEN ascii(substr(h, $i, 1)) <= 57 THEN ascii(substr(h, $i, 1)) - 48 ELSE ascii(substr(h, $i, 1)) - 87 END)"
      val scoreCols = (0 until 60).map { b =>
        val nib = b / 4; val k = b % 4
        s"""CASE WHEN 2*list_reduce(list_transform(th, h -> CAST((${nibSql(nib + 1)} >> $k) & 1 AS BIGINT)), (a, c) -> a + c) >= n THEN ${1L << b} ELSE 0 END"""
      }.mkString(" + ")
      Some(s"""
      WITH sim AS (
        SELECT doc_id, $scoreCols AS simhash FROM (
          SELECT doc_id, list_transform(t, x -> md5(x)) AS th, CAST(len(t) AS BIGINT) AS n
          FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents)
          WHERE len(t) > 0)),
      bands AS (
        SELECT doc_id, simhash, u.j AS j, (simhash >> (15*u.j)) & 32767 AS band
        FROM sim, (SELECT unnest([0,1,2,3]) AS j) u)
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
        CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
      FROM bands a JOIN bands c ON a.j = c.j AND a.band = c.band AND a.doc_id < c.doc_id
      WHERE bit_count(xor(a.simhash, c.simhash)) <= 4
      ORDER BY doc_a, doc_b""")
    }),

    // C28 ---------------------------------------------------------------
    // NEAR-dup incremental admission: the batch-vs-corpus version of C2.
    // C21 (dedup_incremental) admits on EXACT normalized hashes; here a
    // new batch (source 'src0' stands in) is screened against the
    // existing corpus for jaccard >= 0.7 near-duplicates. Candidates come
    // from a band join between the batch's and the corpus's LSH buckets —
    // never batch × corpus — so admission cost scales with bucket
    // collisions, not corpus size; the report names the best surviving
    // match per new doc (ties to the smaller corpus id).
    GQ("dedup_incremental_minhash", (s, d) => {
      import s.implicits._
      val sh = table(s, d, "documents")
        .withColumn("sh",
          ExpressionUtils.column(WordShingles(ExpressionUtils.expression($"text"), 3)))
        .filter(size($"sh") > 0)
        .select($"doc_id", $"source", $"sh")
      // exact-copy collapse PER SIDE (a new doc identical to a corpus doc
      // must still match it, so the sides never share a group). Corpus
      // members beyond the representative can never win the best-match
      // tie-break — identical sets share j, and the rep IS the group's
      // min corp_id — so only the NEW side needs member expansion.
      val newDocs = sh.filter($"source" === "src0").select($"doc_id", $"sh")
      val corpDocs = sh.filter($"source" =!= "src0").select($"doc_id", $"sh")
      val rowsPer = NumHashes / NumBands
      val (nBands, nMembers) = collapsedBands(newDocs, NumBands, rowsPer)
      val (cBands, _) = collapsedBands(corpDocs, NumBands, rowsPer)
      val nb = nBands.select($"doc_id".as("new_id"), $"b", $"bkey")
      val cb = cBands.select($"doc_id".as("corp_id"), $"b", $"bkey")
      val cand = nb.join(cb, Seq("b", "bkey"))
        .select($"new_id", $"corp_id").distinct()
      val verified = cand
        .join(newDocs.select($"doc_id".as("new_id"), $"sh".as("sa")), Seq("new_id"))
        .join(corpDocs.select($"doc_id".as("corp_id"), $"sh".as("sb")), Seq("corp_id"))
        .withColumn("j", jaccard($"sa", $"sb"))
        .filter($"j" >= 0.7)
      val bestRep = verified.groupBy($"new_id")
        .agg(max_by(struct($"corp_id", $"j"), struct($"j", -$"corp_id")).as("m"))
        .select($"new_id".as("rep_id"), $"m.corp_id".as("match_id"),
          $"m.j".as("match_jaccard"))
      val best = nMembers.select($"doc_id", $"rep_id")
        .join(bestRep, Seq("rep_id"))
        .select($"doc_id", $"match_id", $"match_jaccard")
      table(s, d, "documents").filter($"source" === "src0")
        .select($"doc_id")
        .join(best, Seq("doc_id"), "left")
        .select($"doc_id", $"match_id".isNull.as("admitted"),
          $"match_id", $"match_jaccard")
        .orderBy($"doc_id")
    }, Some(s"""
      WITH d AS (
        SELECT doc_id, source, sh FROM (
          SELECT doc_id, source, list_distinct(CASE WHEN len(t) >= 3
            THEN list_transform(generate_series(1, len(t)-2),
                   i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
            ELSE [] END) AS sh
          FROM (SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                FROM documents))
        WHERE len(sh) > 0),
      sigs AS (
        SELECT doc_id, source,
          [${hashAB.map { case (a, b) => s"list_min(list_transform(vs, v -> ($a*v + $b) % $P))" }.mkString(", ")}] AS sig
        FROM (SELECT doc_id, source,
          list_transform(sh, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 1073741824) AS vs
          FROM d)),
      bands AS (
        SELECT doc_id, source, u.b AS b,
          concat_ws('|', sig[4*u.b+1], sig[4*u.b+2], sig[4*u.b+3], sig[4*u.b+4]) AS bkey
        FROM sigs, (SELECT unnest([0,1,2,3]) AS b) u),
      cand AS (
        SELECT DISTINCT a.doc_id AS new_id, c.doc_id AS corp_id
        FROM bands a JOIN bands c ON a.b = c.b AND a.bkey = c.bkey
        WHERE a.source = 'src0' AND c.source <> 'src0'),
      ver AS (
        SELECT new_id, corp_id, $duckJaccard AS j
        FROM cand JOIN d x ON x.doc_id = new_id JOIN d y ON y.doc_id = corp_id
        WHERE $duckJaccard >= 0.7),
      best AS (
        SELECT new_id, corp_id AS match_id, j AS match_jaccard FROM (
          SELECT new_id, corp_id, j,
            ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY j DESC, corp_id) AS rn
          FROM ver) WHERE rn = 1)
      SELECT n.doc_id, best.match_id IS NULL AS admitted, best.match_id, best.match_jaccard
      FROM (SELECT doc_id FROM documents WHERE source = 'src0') n
      LEFT JOIN best ON best.new_id = n.doc_id
      ORDER BY n.doc_id""")),

    // C48 ---------------------------------------------------------------
    // Sketch-accuracy report: the MinHash ESTIMATE (matching signature
    // positions / 16) against the EXACT Jaccard, per LSH candidate pair
    // — the calibration every pipeline runs before trusting a sketch
    // threshold at scale (how many verification joins can banding
    // replace, and at what error). The comparison is unrolled positional
    // equality over the 16-slot signatures (codegen'd; no interpreted
    // array HOF), candidates come from the same band join as C2, and
    // the only non-integer math is one division and one subtraction in
    // fixed order on both engines.
    GQ("minhash_accuracy", (s, d) => {
      import s.implicits._
      val docs = shingled(s, d)
      // exact-copy collapse: candidates + est/jaccard compute once per
      // distinct-content pair, expand over members after. Within-group
      // pairs score est=1.0 (identical signatures, 16/16 positions),
      // jaccard=1.0, err=0.0 — exactly what the uncollapsed pipeline
      // computes for two identical docs.
      val rowsPer = NumHashes / NumBands
      val (bands, members) = collapsedBands(docs, NumBands, rowsPer)
      val l = bands.select($"doc_id".as("doc_a"), $"b", $"bkey")
      val r = bands.select($"doc_id".as("doc_b"), $"b", $"bkey")
      val cand = l.join(r, Seq("b", "bkey")).filter($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b").distinct()
      // recompute signatures only for CANDIDATE representatives (the
      // corpus-wide signature pass already happened inside
      // collapsedBands; a second full pass would double the dominant
      // per-row cost) — candidate ids are a small semi-join
      val candIds = cand.select($"doc_a".as("doc_id"))
        .unionByName(cand.select($"doc_b".as("doc_id"))).distinct()
      val sig = docs.join(candIds, Seq("doc_id"), "leftsemi")
        .withColumn("sig", minhashSig($"sh"))
      val matches = (1 to NumHashes).map(i =>
        when(element_at($"siga", i) === element_at($"sigb", i), 1).otherwise(0))
        .reduce(_ + _)
      val repScored = cand
        .join(sig.select($"doc_id".as("doc_a"), $"sig".as("siga"), $"sh".as("sa")), Seq("doc_a"))
        .join(sig.select($"doc_id".as("doc_b"), $"sig".as("sigb"), $"sh".as("sb")), Seq("doc_b"))
        .withColumn("est", matches.cast("double") / lit(NumHashes.toDouble))
        .withColumn("jaccard", jaccard($"sa", $"sb"))
        .withColumn("err", $"est" - $"jaccard")
        .select($"doc_a", $"doc_b", $"est", $"jaccard", $"err")
      val m = members.select($"rep_id", $"doc_id")
      val cross = repScored
        .join(m.select($"rep_id".as("doc_a"), $"doc_id".as("da")), Seq("doc_a"))
        .join(m.select($"rep_id".as("doc_b"), $"doc_id".as("db")), Seq("doc_b"))
        .select(least($"da", $"db").as("doc_a"),
          greatest($"da", $"db").as("doc_b"), $"est", $"jaccard", $"err")
      val within = m.select($"rep_id", $"doc_id".as("da"))
        .join(m.select($"rep_id", $"doc_id".as("db")), Seq("rep_id"))
        .filter($"da" < $"db")
        .select($"da".as("doc_a"), $"db".as("doc_b"),
          lit(1.0).as("est"), lit(1.0).as("jaccard"), lit(0.0).as("err"))
      cross.unionByName(within)
        .orderBy($"doc_a", $"doc_b")
    }, Some(s"""
      WITH $duckBandsCte,
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM bands a JOIN bands c ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
      scored AS (
        SELECT doc_a, doc_b,
          CAST((${(1 to NumHashes).map(i =>
            s"CASE WHEN sa.sig[$i] = sb.sig[$i] THEN 1 ELSE 0 END").mkString(" + ")})
            AS DOUBLE) / ${NumHashes}.0 AS est,
          $duckJaccard AS jaccard
        FROM cand
        JOIN sigs sa ON sa.doc_id = doc_a
        JOIN sigs sb ON sb.doc_id = doc_b
        JOIN d x ON x.doc_id = doc_a
        JOIN d y ON y.doc_id = doc_b)
      SELECT doc_a, doc_b, est, jaccard, est - jaccard AS err
      FROM scored ORDER BY doc_a, doc_b""")),

    // C62 ---------------------------------------------------------------
    // Cross-SOURCE overlap matrix: the domain-level duplication report
    // ("how much does src3 mirror src7?") that decides which source
    // pairs deserve the expensive cross-source dedup pass. A source's
    // MinHash signature is the positional MIN over its documents'
    // signatures — exactly the sketch of the UNION of its shingle sets,
    // so positional agreement estimates the union-level Jaccard. Scale:
    // per-doc signatures are the same shuffle-free expressions as C2;
    // the per-source reduce ships 16 longs per map task per source; the
    // pairwise compare runs on a #sources×16 frame — the corpus never
    // moves, only sketches do.
    GQ("source_overlap", (s, d) => {
      import s.implicits._
      val sig = table(s, d, "documents")
        .withColumn("sh",
          ExpressionUtils.column(WordShingles(ExpressionUtils.expression($"text"), 3)))
        .filter(size($"sh") > 0)
        .withColumn("sig", minhashSig($"sh"))
      val perSrc = sig
        .select($"source", posexplode($"sig").as(Seq("j", "v")))
        .groupBy($"source", $"j").agg(min($"v").as("v"))
      val l = perSrc.select($"source".as("src_a"), $"j", $"v".as("va"))
      val r = perSrc.select($"source".as("src_b"), $"j", $"v".as("vb"))
      l.join(r, Seq("j")).filter($"src_a" < $"src_b")
        .groupBy($"src_a", $"src_b")
        .agg(sum(when($"va" === $"vb", 1L).otherwise(0L)).as("n_match"))
        .withColumn("est_jaccard",
          $"n_match".cast("double") / lit(NumHashes.toDouble))
        .select($"src_a", $"src_b", $"n_match", $"est_jaccard")
        .orderBy($"src_a", $"src_b")
    }, Some(s"""
      WITH d AS (
        SELECT doc_id, source, sh FROM (
          SELECT doc_id, source, list_distinct(CASE WHEN len(t) >= 3
            THEN list_transform(generate_series(1, len(t)-2),
                   i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
            ELSE [] END) AS sh
          FROM (SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                FROM documents))
        WHERE len(sh) > 0),
      sigs AS (
        SELECT doc_id, source,
          [${hashAB.map { case (a, b) => s"list_min(list_transform(vs, v -> ($a*v + $b) % $P))" }.mkString(", ")}] AS sig
        FROM (SELECT doc_id, source,
          list_transform(sh, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 1073741824) AS vs
          FROM d)),
      per AS (SELECT source, u.j AS j, MIN(sig[u.j + 1]) AS v
              FROM sigs, (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS j) u
              GROUP BY source, u.j)
      SELECT a.source AS src_a, b.source AS src_b,
        CAST(SUM(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        CAST(SUM(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS DOUBLE)
          / ${NumHashes}.0 AS est_jaccard
      FROM per a JOIN per b ON a.j = b.j AND a.source < b.source
      GROUP BY a.source, b.source ORDER BY src_a, src_b"""))
  )
}
