package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Approximate nearest-neighbor search over embedding columns.
  *
  * Brute force (exact, the verification baseline) is O(|Q|·N) — fine when
  * the query set broadcasts. The 100 TB path is random-hyperplane LSH:
  * each vector gets a `bits`-bit sign signature per hash table; candidate
  * pairs share a bucket in ≥1 table, so the pairwise work collapses from
  * N² to Σ bucket². Hyperplanes are generated from a fixed seed on the
  * driver and broadcast as literals — deterministic across runs and
  * engines, no fit/model state.
  *
  * Every top-k entry point is candidates × codec × one top-k: a private
  * candidate generator (broadcast all-pairs, LSH bucket join, IVF cell
  * equi-join) crossed with a private resident codec (f64, int8, PQ,
  * residual PQ), ranked by one shared tail.
  */
object VectorSearch {

  /** Base hyperplane seed; hash table `t` draws planes with
    * `DefaultSeed + t`. Shared with the registered-query oracle twins and
    * the ScaleInvariants LSH provenance audit, so the parameters cannot
    * silently diverge between the operator and its verifiers. */
  val DefaultSeed: Long = 42L

  /** Probe width of the registered auto-IVF queries (emb_ann_ivf_auto and
    * kin) and the ScaleInvariants in-probe membership audit — one
    * constant, so changing the query cannot silently weaken the audit. */
  val AutoNprobe: Int = 4

  /** Deterministic unit-free hyperplanes: dim × bits gaussians. */
  def hyperplanes(dim: Int, bits: Int, seed: Long = DefaultSeed): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Scale-correct signature width: sign-LSH candidate volume is
    * ~ tables · N² · 2^-bits for unstructured vectors, so FIXED bits is
    * quadratic in N no matter the constant. Sizing bits ≈ log2(N /
    * bucketTarget) pins the expected bucket size at `bucketTarget` and the
    * candidate volume at ~ tables · N · bucketTarget / 2 — linear. The
    * price is recall ≈ 1-(1-p^bits)^tables with p = 1-θ/π shrinking as N
    * grows; at dedup thresholds (0.8+, p ≥ 0.79) the decay is gentle and
    * more tables buy it back. Floor 3 keeps tiny corpora out of
    * degenerate 1-bucket tables. */
  def autoBits(n: Long, bucketTarget: Int = 256): Int =
    math.max(3, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, n / bucketTarget.toLong)))

  /** Sign-bit bucket id of `vecCol` (array<double>) for one table. */
  def bucketId(vecCol: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, i)) =>
      val dot = GraftFunctions.dotProduct(vecCol,
        array(p.map(lit(_)): _*))
      acc.bitwiseOR(when(dot >= 0, lit(1L << i)).otherwise(0L))
    }

  /** Attach `bucket_t{i}` columns for `tables` independent hash tables. */
  def withBuckets(df: DataFrame, vecCol: String, dim: Int, bits: Int = 12,
      tables: Int = 4, seed: Long = 42L): DataFrame =
    (0 until tables).foldLeft(df) { (acc, t) =>
      acc.withColumn(s"bucket_t$t",
        bucketId(col(vecCol), hyperplanes(dim, bits, seed + t)))
    }

  /** (table_index, bucket) pairs exploded to one row per table — bucket
    * joins across ALL tables become a single equi-join on (tbl, bucket)
    * instead of `tables` separate self-joins (one shuffle, not N). */
  def explodedBuckets(df: DataFrame, vecCol: String, dim: Int, bits: Int,
      tables: Int, seed: Long): DataFrame =
    withBuckets(df, vecCol, dim, bits, tables, seed)
      .withColumn("tb", explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"), col(s"bucket_t$t").as("bucket"))): _*)))
      .withColumn("tbl", col("tb.tbl"))
      .withColumn("bucket", col("tb.bucket"))
      .drop("tb" +: (0 until tables).map(t => s"bucket_t$t"): _*)

  /** [[explodedBuckets]] plus the row's FULL bucket signature carried
    * through the explode as `sigv` — ONE long with each table's bucket
    * packed at bit offset `bits·t` when the whole signature fits 63 bits
    * (every registered regime), otherwise one long per table as an
    * array. The signature is what lets a bucket self-join dedupe
    * candidate pairs WITHOUT a pair-volume exchange: a pair colliding in
    * several tables is emitted only where `tbl` is the first agreeing
    * position of the two signatures ([[firstCollision]]) — the classic
    * LSH first-collision rule — so no downstream `distinct` over the
    * (quadratic-in-bucket-size) candidate stream is needed. Costs ≤
    * `tables` longs of shuffle payload per bucket row, linear in N. */
  def explodedBucketsSig(df: DataFrame, vecCol: String, dim: Int, bits: Int,
      tables: Int, seed: Long): DataFrame = {
    val wb = withBuckets(df, vecCol, dim, bits, tables, seed)
    val sig =
      if (bits * tables <= 63)
        (0 until tables).map(t =>
          shiftleft(col(s"bucket_t$t"), bits * t)).reduce(_.bitwiseOR(_))
      else array((0 until tables).map(t => col(s"bucket_t$t")): _*)
    wb.withColumn("sigv", sig)
      .withColumn("tb", explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"), col(s"bucket_t$t").as("bucket"))): _*)))
      .withColumn("tbl", col("tb.tbl"))
      .withColumn("bucket", col("tb.bucket"))
      .drop("tb" +: (0 until tables).map(t => s"bucket_t$t"): _*)
  }

  /** True iff `tbl` is the FIRST table index where the two signatures of
    * [[explodedBucketsSig]] agree — the per-pair dedup predicate over a
    * (tbl, bucket) bucket join of two exploded sides, evaluated map-side
    * on the join output before anything is shuffled. Packed form: XOR
    * the signatures once, then a when-chain over the `tables` bit
    * fields (pure bit ops, no allocation — a zip_with/array_position
    * form measured 2× SLOWER end-to-end from per-candidate array
    * allocations). Array form: the same when-chain over element_at. */
  def firstCollision(tbl: Column, sigA: Column, sigB: Column,
      bits: Int, tables: Int): Column = {
    val firstMatch =
      if (bits * tables <= 63) {
        val x = sigA.bitwiseXOR(sigB)
        val mask = (1L << bits) - 1L
        coalesce((0 until tables).map(t =>
          when(shiftrightunsigned(x, bits * t).bitwiseAND(lit(mask)) === 0L,
            lit(t))): _*)
      } else
        coalesce((0 until tables).map(t =>
          when(element_at(sigA, t + 1) === element_at(sigB, t + 1),
            lit(t))): _*)
    tbl === firstMatch
  }

  // ---- ANN skeleton: candidates × codec × one top-k ----------------------
  //
  // A generator pairs corpus rows with query rows; a codec decides what
  // each side carries into that join and how a pair scores. The two are
  // independent axes: a resident representation never dictates how its
  // candidates are found.

  /** A resident codec. `corpus` / `query` add each side's scoring columns
    * (keeping idCol and vecCol for the generator); `cCols` / `qCols` are
    * what each side carries into the candidate join; `perProbe` adds
    * per-(query, probed cell) columns on the IVF query side; `scores`
    * evaluate in order over a candidate pair (a later one may read an
    * earlier one) and the LAST one ranks. */
  private case class Codec(corpus: DataFrame => DataFrame,
      cCols: Seq[Column], query: DataFrame => DataFrame, qCols: Seq[Column],
      scores: Seq[(String, Column)], perProbe: Seq[(String, Column)] = Nil)

  private def norm(v: Column): Column = sqrt(GraftFunctions.dotProduct(v, v))

  /** f64: exact cosine over the raw vectors and one norm per side. */
  private def f64Codec(vecCol: String): Codec = Codec(
    _.withColumn("nrm", norm(col(vecCol))), Seq(col(vecCol), col("nrm")),
    _.withColumn("qnrm", norm(col(vecCol))),
    Seq(col(vecCol).as("qvec"), col("qnrm")),
    Seq("cosine" -> GraftFunctions.dotProduct(col("qvec"), col(vecCol)) /
      (col("qnrm") * col("nrm"))))

  /** int8: [[quantizeInt8]] codes on both sides; the exact integer dot
    * rescales to cosine over the DEquantized dot, (dot_q·sa·sb)/(|a||b|),
    * with norms from the original floats. */
  private def int8Codec(vecCol: String): Codec = Codec(
    quantizeInt8(_, vecCol).withColumn("nrm", norm(col(vecCol))),
    Seq(col("q"), col("scale"), col("nrm")),
    quantizeInt8(_, vecCol).withColumn("qnrm", norm(col(vecCol))),
    Seq(col("q").as("qq"), col("scale").as("qscale"), col("qnrm")),
    Seq("dot_q" -> quantizedDot("qq", "q"),
      "qcos" -> col("dot_q").cast("double") * col("qscale") * col("scale") /
        (col("qnrm") * col("nrm"))))

  /** PQ: corpus rows resident as m byte codes of `encCol` plus the
    * reconstruction norm ([[pqEncode]]); each query builds its integer
    * LUTs over the RAW `vecCol` once, before any candidate expansion;
    * a pair scores by ADC ([[pqAdcFp]], [[adcCosineGuarded]]). */
  private def pqCodec(vecCol: String, encCol: String, dim: Int,
      books: Array[Array[(Int, Array[Double])]]): Codec = {
    val m = books.length
    Codec(pqEncode(_, encCol, dim, books),
      (0 until m).map(s => col(s"code_$s")) :+ col("recon_n2_fp"),
      df => withPqLuts(df.withColumn("qnrm", norm(col(vecCol))), vecCol,
        dim / m, books),
      col("qnrm") +: (0 until m).map(s => col(s"lut_$s")),
      Seq("adc_fp" -> pqAdcFp(m), "adc_cosine" -> adcCosineGuarded))
  }

  /** Broadcast all-pairs candidates: every corpus row × the broadcast
    * query set. `excludeSelf` drops neighbor_id == query_id pairs. */
  private def allPairs(corpus: DataFrame, queries: DataFrame, idCol: String,
      codec: Codec, excludeSelf: Boolean): DataFrame =
    codec.corpus(corpus).select(col(idCol) +: codec.cCols: _*)
      .crossJoin(broadcast(codec.query(queries)
        .select(col(idCol).as("query_id") +: codec.qCols: _*)))
      .filter(if (excludeSelf) col(idCol) =!= col("query_id") else lit(true))

  /** LSH candidates: same bucket in any table, one equi-join on (tbl,
    * bucket). The codec's columns attach BEFORE the bucket explode (once
    * per vector, not once per table); pair dedup across tables is the
    * first-collision filter on the join output (map-side — no exchange
    * over the candidate stream, which is what dropDuplicates paid). */
  private def bucketPairs(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, codec: Codec, dim: Int, bits: Int,
      tables: Int, seed: Long): DataFrame = {
    def side(df: DataFrame, id: Column, sig: String, cols: Seq[Column]) =
      explodedBucketsSig(df, vecCol, dim, bits, tables, seed)
        .select(id +: col("sigv").as(sig) +: col("tbl") +: col("bucket") +:
          cols: _*)
    side(codec.corpus(corpus), col(idCol), "sigv", codec.cCols)
      .join(side(codec.query(queries), col(idCol).as("query_id"), "__qs",
        codec.qCols), Seq("tbl", "bucket"))
      .filter(col(idCol) =!= col("query_id") &&
        firstCollision(col("tbl"), col("sigv"), col("__qs"), bits, tables))
  }

  /** IVF candidates: the corpus is assigned to its nearest cell once, each
    * query explodes into its `nprobe` nearest cells ([[probeCells]]), and
    * candidates gather by an EQUI-JOIN on cid — never a product. */
  private def cellPairs(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, codec: Codec, centroids: Array[(Int, Array[Double])],
      nprobe: Int): DataFrame = {
    // corpus side first: assign() registers NearestCells past 32 cells,
    // which the probe list below resolves against
    val indexed = codec.corpus(assign(corpus, vecCol, centroids))
      .select(col(idCol) +: col("cid") +: codec.cCols: _*)
    val probed = codec.query(queries)
      .select(col(idCol).as("query_id") +: codec.qCols :+
        explode(probeCells(col(vecCol), centroids, nprobe)).as("cid"): _*)
    indexed
      .join(codec.perProbe.foldLeft(probed) { case (df, (n, c)) =>
        df.withColumn(n, c) }, Seq("cid"))
      .filter(col(idCol) =!= col("query_id"))
  }

  /** The `nprobe` nearest cell ids of `vec`, nearest first. Same 32-cell
    * switch as [[cidExpr]]: the sorted literal-struct array and
    * NearestCells order identically (dot desc, ties to the lowest cid),
    * and NaN dots sort LAST (nanvl to +Infinity on the negated dot, as
    * if -Infinity), matching NearestCells. */
  private def probeCells(vec: Column, centroids: Array[(Int, Array[Double])],
      nprobe: Int): Column =
    if (centroids.length > 32) {
      val cidOf = array(centroids.map(c => lit(c._1)): _*)
      transform(GraftFunctions.nearestCells(vec, centroids.map(_._2), nprobe),
        i => element_at(cidOf, i + 1))
    } else {
      val probeScores = centroids.map { case (cid, c) =>
        struct(nanvl(GraftFunctions.dotProduct(vec,
          array(c.map(lit(_)): _*)) * -1,
          lit(Double.PositiveInfinity)).as("negd"), lit(cid).as("cid"))
      }
      transform(slice(array_sort(array(probeScores: _*)), 1, nprobe),
        s => s.getField("cid"))
    }

  /** The one top-k tail: the codec's scores over the candidate pairs,
    * then row_number per query_id by (last score desc, neighbor_id) and
    * rank ≤ k. Returns (query_id, neighbor_id, scores…, rank). */
  private def rankTopK(cands: DataFrame, idCol: String, codec: Codec,
      k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col(codec.scores.last._1).desc, col("neighbor_id"))
    codec.scores.foldLeft(cands) { case (df, (n, c)) => df.withColumn(n, c) }
      .select(col("query_id") +: col(idCol).as("neighbor_id") +:
        codec.scores.map(s => col(s._1)): _*)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** (cells, trainCap) of an IVF-style entry: `n > 0` is a fixed cell
    * count trained over the whole corpus; `n = 0` is the 100 TB mode —
    * cells ≈ √N (autoCells) with Lloyd over the bounded md5 sample. */
  private def cellsAndCap(corpus: DataFrame, idCol: String, n: Int,
      trainCap: Int): (Int, Int) =
    if (n > 0) (n, 0) else (autoCells(corpus.select(idCol).count()), trainCap)

  /** ANN top-k: candidates = same bucket in any table, re-ranked by exact
    * cosine. Recall grows with `tables`, cost shrinks with `bits`.
    * `bits = 0` sizes the signature from the corpus count (autoBits) so
    * per-query candidate volume stays ~ tables × bucketTarget as the
    * corpus grows instead of ~ tables × N / 2^bits. */
  def annCosine(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int = 10, bits: Int = 10,
      tables: Int = 4, seed: Long = 42L, bucketTarget: Int = 256): DataFrame = {
    val b = if (bits > 0) bits
      else autoBits(corpus.select(idCol).count(), bucketTarget)
    val codec = f64Codec(vecCol)
    rankTopK(bucketPairs(corpus, queries, idCol, vecCol, codec, dim, b,
        tables, seed), idCol, codec, k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Embedding near-duplicate PAIRS at corpus scale: candidates share an
    * LSH bucket in ≥1 table (one equi-join on (tbl, bucket) over the
    * exploded bucket frame — never a corpus × corpus product), then exact
    * cosine verification against `threshold`. Precision is exact (every
    * returned pair really clears the threshold); recall is the LSH
    * bargain: ≈ 1-(1-p^bits)^tables with p = 1-θ/π. Pick `bits` by the
    * threshold regime — high thresholds (0.8+, the usual dedup setting)
    * afford bits 8-12 with few tables and tiny buckets; thresholds near
    * 0.5 need coarse bits (2-4) and more tables, and approach all-pairs
    * cost because low-similarity LSH has no free lunch. The all-pairs
    * form (see emb_neardup_pairs) stays the small-N verification twin.
    *
    * `bits = 0` selects the 100 TB mode: the signature width is sized
    * from the corpus count (autoBits — one cheap count() over ids) so
    * bucket sizes, and with them the candidate join volume, stay bounded
    * as the corpus grows instead of quadratic. */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, bits: Int = 0, tables: Int = 6,
      seed: Long = 42L): DataFrame = {
    val b = if (bits > 0) bits else autoBits(corpus.select(idCol).count())
    val withNorm = corpus.withColumn("nrm", norm(col(vecCol)))
    // candidate generation and dedup run on slim (id, sigv, tbl, bucket)
    // rows — shuffling two dim-sized arrays per candidate through the
    // join costs more than the verification itself (measured 15× on the
    // fixture); vectors re-attach afterwards, once per SURVIVING pair
    // side, via two slim joins. Pair dedup is the first-collision filter
    // (emit a pair only in the first table where its signatures agree) —
    // map-side on the join output, replacing a distinct() exchange whose
    // row count is the full pre-dedup candidate volume (quadratic in
    // bucket size; the dominant shuffle of the low-threshold regimes).
    val bk = explodedBucketsSig(withNorm, vecCol, dim, b, tables, seed)
      .select(col(idCol), col("sigv"), col("tbl"), col("bucket"))
    val cand = bk.select(col(idCol).as("vec_a"), col("sigv").as("__sa"),
        col("tbl"), col("bucket"))
      .join(bk.select(col(idCol).as("vec_b"), col("sigv").as("__sb"),
        col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b") &&
        firstCollision(col("tbl"), col("__sa"), col("__sb"), b, tables))
      .select("vec_a", "vec_b")
    cand
      .join(withNorm.select(col(idCol).as("vec_a"), col(vecCol).as("ea"),
        col("nrm").as("na")), "vec_a")
      .join(withNorm.select(col(idCol).as("vec_b"), col(vecCol).as("eb"),
        col("nrm").as("nb")), "vec_b")
      .withColumn("cos_raw",
        GraftFunctions.dotProduct(col("ea"), col("eb")) /
          (col("na") * col("nb")))
      .filter(col("cos_raw") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos_raw"))
  }

  /** Density-based clustering (DBSCAN — Ester, Kriegel, Sander & Xu,
    * KDD 1996) over an embedding column, with "within ε" = cosine ≥
    * `threshold` and ε-neighborhoods materialized by the SAME
    * LSH-bucketed candidate join as [[nearDupPairs]] (equi-join on
    * (tbl, bucket), never corpus²; `bits = 0` selects the auto-width
    * 100 TB mode; the recall trade is nearDupPairs', applied to edges).
    * This is the data-side density-clustering report a training
    * pipeline wants where k-means' fixed k misfits: dense semantic
    * regions surface as clusters, sparse strays as noise.
    *
    * Roles, all deterministic (classic DBSCAN leaves border assignment
    * scan-order dependent — every rule here is a pure function of the
    * edge set):
    *  - CORE: ≥ minPts − 1 neighbors at cosine ≥ threshold (the paper's
    *    |N_ε(p)| ≥ minPts counts p itself);
    *  - clusters = connected components over CORE-CORE edges
    *    (large-star/small-star at scale), labeled min member id;
    *    a core with no core neighbor is its own singleton cluster;
    *  - BORDER: non-core with ≥ 1 core neighbor, assigned the MINIMUM
    *    cluster label among its core neighbors;
    *  - NOISE: everything else (cluster NULL).
    * Returns (vec_id, n_neighbors, role, cluster).
    *
    * The pair frame is materialized ONCE via an eager localCheckpoint
    * for its three consumers (degrees, core edges, border labels) —
    * checkpoint blocks, unlike `cache()` entries, are released by the
    * ContextCleaner as soon as the returned frame is unreferenced, so a
    * long-lived session embedding this op never accumulates storage it
    * must remember to `clearCache()` away. The materialization is not
    * extra work: connectedComponents runs convergence actions over the
    * core edges anyway. */
  def dbscanCosine(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, minPts: Int, bits: Int = 0,
      tables: Int = 6, seed: Long = DefaultSeed): DataFrame = {
    require(minPts >= 2, s"minPts must be >= 2, got $minPts")
    val pairs = nearDupPairs(corpus, idCol, vecCol, dim, threshold, bits,
        tables, seed)
      .select(col("vec_a").cast("long").as("vec_a"),
        col("vec_b").cast("long").as("vec_b"))
      .localCheckpoint()
    val sym = pairs.union(
      pairs.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b")))
      .toDF("id", "nb")
    val deg = sym.groupBy("id").agg(count(lit(1)).as("n_neighbors"))
    val core = deg.filter(col("n_neighbors") >= minPts - 1).select("id")
    val coreEdges = sym
      .join(core, "id")
      .join(core.withColumnRenamed("id", "nb"), "nb")
      .select(col("id"), col("nb"))
    val comp = Dedup.connectedComponents(coreEdges, "id", "nb")
    val coreLabeled = core
      .join(comp, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("cluster"))
    val borderMin = sym
      .join(coreLabeled.select(col("id").as("nb"), col("cluster").as("nbc")),
        "nb")
      .groupBy("id").agg(min(col("nbc")).as("border_cluster"))
    // the three per-id role frames pivot through ONE aggregation (each
    // emits at most one row per id — the decisions() move), leaving a
    // single left join against the corpus for isolated ids, instead of
    // three corpus-wide join exchanges
    val nl = lit(null).cast("long")
    val roles = deg
      .select(col("id"), col("n_neighbors"), nl.as("core_cluster"),
        nl.as("border_cluster"))
      .unionByName(coreLabeled.select(col("id"), nl.as("n_neighbors"),
        col("cluster").as("core_cluster"), nl.as("border_cluster")))
      .unionByName(borderMin.select(col("id"), nl.as("n_neighbors"),
        nl.as("core_cluster"), col("border_cluster")))
      .groupBy("id")
      .agg(max(col("n_neighbors")).as("n_neighbors"),
        max(col("core_cluster")).as("core_cluster"),
        max(col("border_cluster")).as("border_cluster"))
    corpus.select(col(idCol).cast("long").as("vec_id"))
      .join(roles.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        when(col("core_cluster").isNotNull, lit("core"))
          .when(col("border_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("core_cluster").isNotNull, col("core_cluster"))
          .otherwise(col("border_cluster")).as("cluster"))
  }

  // ---- IVF (inverted-file) variant ---------------------------------------

  /** Scale-correct cell count: candidates re-ranked per query are
    * ~ nprobe·N/nCells, so FIXED cells leave a constant fraction of the
    * corpus in every probe; cells ≈ √N pins both the cell size and the
    * per-query candidate volume at ~√N. Clamped so tiny corpora keep
    * meaningful cells and the broadcast centroid array stays bounded
    * (4096 × dim doubles ≈ 2 MB at dim 64). */
  def autoCells(n: Long): Int =
    math.min(4096L, math.max(16L, math.ceil(math.sqrt(
      math.max(1L, n).toDouble)).toLong)).toInt

  /** Lloyd-refinement sample cap for the auto (nCells = 0) IVF mode.
    * Shared with the emb_ann_ivf_auto oracle, which derives its training
    * set with the SAME cap (QUALIFY row_number over md5 order) — a corpus
    * larger than the cap trains on a bounded sample in BOTH engines, so
    * the cross-engine hash check holds at any scale factor. */
  val DefaultTrainCap: Int = 50000

  /** Per-cell tier-1 rep count past which [[semDedup]] engages its tier-2
    * quantized collapse. A balanced autoCells clustering keeps reps/cell
    * ≈ √N, which stays under this bound for every corpus below the
    * 4096-cell cap (N ≤ 16M); a cell exceeding it is the mass
    * near-duplication signature tier 2 exists for. Below the bound the
    * operator computes the exact paper rule — identical to the all-pairs
    * DuckDB oracle — so the approximation never touches an
    * oracle-verified corpus. */
  val SemDedupTier2CellBound: Int = 4096

  /** Deterministic k-means coarse quantizer: seeds are the k corpus
    * vectors with the smallest md5(id) (a reproducible "random" sample —
    * md5, not xxhash64, so the seed order is re-derivable in any engine:
    * ORDER BY md5(CAST(id AS VARCHAR))), refined by `iters` Lloyd steps.
    * Centroids are collected to the driver each step — k×dim doubles,
    * intentionally tiny — and broadcast back for assignment.
    * `trainCap > 0` runs the Lloyd refinement over only the trainCap
    * smallest-md5 corpus vectors (the same reproducible sample as the
    * seeds): training cost becomes cap×k per step instead of N×k, the
    * standard IVF trade — the one full N×k pass left is the final
    * assignment every vector needs anyway. One-spec form of
    * [[kmeansCentroidsSliced]]. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 2, trainCap: Int = 0): Array[(Int, Array[Double])] =
    kmeansCentroidsSliced(corpus, idCol, vecCol, Seq((-1, 0, k)), iters,
      trainCap).head

  /** SEVERAL deterministic k-means trainings over slices of one vector
    * column, sharing every Spark job — the PQ/IVF training batcher.
    * Each spec (offset, len, k) trains its own codebook over
    * slice(vec, offset+1, len) (offset −1 ⇒ the whole vector); all
    * specs share the seed collect (the maxK smallest-md5 FULL vectors,
    * sliced driver-side — identical rows to per-slice seed pulls) and
    * each Lloyd step runs as ONE job: per row, every spec's slice is
    * assigned to its current nearest centroid (the same literal-fold /
    * NearestCells expression [[assign]] uses), exploded as (sub, cid,
    * slice), and the exact decimal means group by (sub, cid, pos) —
    * disjoint key spaces, so every per-spec mean is bit-identical to
    * the mean its standalone training would compute, while the m
    * independent trainings of rounds ≤ 12 paid m × (1 seed + iters)
    * driver round-trip jobs for the same numbers (measured: 12 jobs →
    * 3 for m=4 PQ books; 15 → 3 when the IVF coarse quantizer rides
    * the same batch). Returns one cid-ascending codebook per spec, in
    * spec order. */
  def kmeansCentroidsSliced(corpus: DataFrame, idCol: String,
      vecCol: String, specs: Seq[(Int, Int, Int)], iters: Int = 2,
      trainCap: Int = 0): Array[Array[(Int, Array[Double])]] = {
    require(specs.nonEmpty, "kmeansCentroidsSliced needs >= 1 spec")
    val spark = corpus.sparkSession
    val maxK = specs.map(_._3).max
    val seedRows = corpus
      .orderBy(md5(col(idCol).cast("string")))
      .limit(maxK)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Double](0).toArray)
    val cents: Array[Array[(Int, Array[Double])]] =
      specs.toArray.map { case (off, len, k0) =>
        seedRows.take(k0).zipWithIndex.map { case (v, i) =>
          i -> (if (off < 0) v else v.slice(off, off + len))
        }
      }
    val train =
      if (trainCap > 0)
        corpus.orderBy(md5(col(idCol).cast("string"))).limit(trainCap)
      else corpus
    (1 to iters).foreach { _ =>
      GraftFunctions.register(spark) // graft_dot / graft_nearest_cells
      val parts = specs.zipWithIndex.map { case ((off, len, _), s) =>
        val sv = if (off < 0) col(vecCol) else slice(col(vecCol), off + 1, len)
        // assignment via the NATIVE NearestCells expression at every
        // size (value-identical to the ≤32 literal fold — same
        // left-to-right dots, lowest-cid ties, NaN demotion; see
        // cidExpr/NearestCells): the batched projection carries
        // Σ_spec(k·dim) centroid values, which as literal trees blew
        // past codegen limits and ran interpreted (measured slower than
        // the unbatched form it replaced); as referenced double[][]s
        // the plan stays a few nodes per spec
        val cid =
          if (cents(s).length == 1) lit(cents(s).head._1)
          else element_at(array(cents(s).map(c => lit(c._1)): _*),
            GraftFunctions.nearestCells(sv, cents(s).map(_._2), 1)
              .getItem(0) + 1)
        struct(lit(s).as("sub"), cid.as("cid"), sv.as("sv"))
      }
      val next = train
        .select(explode(array(parts: _*)).as("x"))
        .select(col("x.sub").as("sub"), col("x.cid").as("cid"),
          posexplode(col("x.sv")).as(Seq("pos", "xv")))
        // exact decimal mean — shuffle-merge-order independent, so
        // centroids (and downstream IVF output) are run-to-run stable
        .groupBy("sub", "cid", "pos")
        .agg((sum(col("xv").cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("m"))
        .groupBy("sub", "cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("pm"))
        .select(col("sub"), col("cid"), expr("transform(pm, s -> s.m)").as("c"))
        .collect()
        .groupBy(_.getInt(0))
      specs.indices.foreach { s =>
        next.get(s).foreach { rows =>
          // collect() order is arbitrary, but the assign fold breaks
          // exact dot-product ties by ARRAY POSITION — sort by cid so
          // ties keep resolving to the lowest cid (the oracle's
          // ORDER BY dot DESC, cid) on every run
          val ns = rows.map(r => r.getInt(1) -> r.getSeq[Double](2).toArray)
            .sortBy(_._1)
          if (ns.nonEmpty) cents(s) = ns
        }
      }
    }
    cents
  }

  /** Nearest-centroid assignment via a broadcast literal centroid array —
    * no shuffle of the corpus. Past 32 cells the literal fold's
    * (cells × dim)-node expression tree breaks codegen, so the matrix
    * moves into the native NearestCells expression (one referenced
    * double[][], tight loop); ties resolve to the lowest array position
    * in both forms, and kmeansCentroids emits centroids cid-ascending.
    * The cell id lands in `out` (default `cid`). */
  private def assign(df: DataFrame, vecCol: String,
      centroids: Array[(Int, Array[Double])], out: String = "cid"): DataFrame = {
    if (centroids.length > 32) GraftFunctions.register(df.sparkSession)
    df.withColumn(out, cidExpr(col(vecCol), centroids))
  }

  /** Nearest-centroid cell id of `vec` as a pure Column — the shared
    * assignment expression behind [[assign]] and the per-spec
    * assignments of [[kmeansCentroidsSliced]]. Callers must register
    * GraftFunctions on the session when centroids.length > 32. */
  private def cidExpr(vec: Column,
      centroids: Array[(Int, Array[Double])]): Column = {
    if (centroids.length == 1) {
      // k=1 degenerate case: the literal fold below would build an
      // empty (VOID-typed) struct array for `scored.tail`
      lit(centroids.head._1)
    } else if (centroids.length > 32) {
      val cidOf = array(centroids.map(c => lit(c._1)): _*)
      element_at(cidOf,
        GraftFunctions.nearestCells(vec, centroids.map(_._2), 1)
          .getItem(0) + 1)
    } else {
      // NaN dots demote to -Infinity (nanvl) — matching NearestCells'
      // NaN handling, so the literal fold and the native expression agree
      // on degenerate input (Spark's `>` ranks NaN ABOVE everything, the
      // opposite of the skip we want). Seeding the fold with the FIRST
      // centroid's struct (not a -1 sentinel) means an all-NaN vector
      // lands in cell 0 — the lowest-cid tie-break — never cid -1.
      val scored = centroids.map { case (cid, c) =>
        struct(lit(cid).as("cid"),
          nanvl(GraftFunctions.dotProduct(vec,
            array(c.map(lit(_)): _*)), lit(Double.NegativeInfinity)).as("d"))
      }
      // pick the centroid with max dot product (cosine order for
      // near-unit-norm centroids)
      aggregate(array(scored.tail: _*), scored.head,
        (acc, s) => when(s.getField("d") > acc.getField("d"), s)
          .otherwise(acc)).getField("cid")
    }
  }

  /** K-means corpus clustering: every vector labeled with its nearest
    * deterministic-k-means centroid (the IVF coarse quantizer exposed as
    * a clustering operator — md5-seeded init, exact-decimal Lloyd means,
    * lowest-cid tie-break, so assignments are run-to-run stable and
    * re-derivable in any engine). One broadcast-centroid projection over
    * the corpus; no shuffle of the vectors. */
  def clusterAssign(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 2, trainCap: Int = 0): DataFrame =
    assign(corpus, vecCol,
      kmeansCentroids(corpus, idCol, vecCol, k, iters, trainCap))

  /** Per-cluster composition report over a labeled corpus — the standard
    * "what did my embedding clusters capture" audit of a training-data
    * pipeline (cluster size, distinct labels, majority label and its
    * share). A map-side-combinable (cid, label) count, then a ranked
    * argmax per cid (count desc, ties to the LOWEST label) over that
    * count frame — the window ranks at most |distinct labels| rows per
    * cid (label cardinality, never corpus size), so a mega-cluster
    * cannot straggle, and the ordering is type-agnostic: string label
    * columns work where the former `max(struct(cnt, -label))` needed a
    * negatable numeric. Returns (cid, n_vectors, n_labels, top_label,
    * top_label_cnt, label_share); top_label keeps the label column's
    * type. */
  def clusterStats(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 16, iters: Int = 2,
      trainCap: Int = 0): DataFrame = {
    val assigned = clusterAssign(corpus, idCol, vecCol, k, iters, trainCap)
    val counts = assigned
      .groupBy(col("cid"), col(labelCol).as("__lbl"))
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy("cid")
      .orderBy(col("__cnt").desc, col("__lbl").asc)
    counts
      .withColumn("__rn", row_number().over(w))
      .groupBy("cid")
      .agg(
        sum(col("__cnt")).cast("long").as("n_vectors"),
        count(lit(1)).as("n_labels"),
        max(when(col("__rn") === 1, col("__lbl"))).as("top_label"),
        max(when(col("__rn") === 1, col("__cnt"))).as("top_label_cnt"))
      .select(col("cid"), col("n_vectors"), col("n_labels"),
        col("top_label"), col("top_label_cnt"),
        round(col("top_label_cnt").cast("double") / col("n_vectors"), 6)
          .as("label_share"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication via the k-means quantizer — cluster the embeddings,
    * compare pairs ONLY within a cluster, and drop every vector that has
    * a lower-id cluster-mate with cosine ≥ `threshold` (the paper's
    * keep-one-per-pair rule with the deterministic keep-lowest-id
    * tie-break this repo uses everywhere). Cross-cluster near-dups are
    * invisible by design — that recall trade IS the algorithm; the
    * LSH-bucketed [[nearDupPairs]] is the pair-complete alternative.
    *
    * Scale shape: the pair join is an equi-join on cid, so pairwise work
    * is Σ|cluster|², never N². `k = 0` selects the 100 TB mode: cells ≈
    * √N (autoCells) with Lloyd over a bounded md5 sample (trainCap), so
    * per-cluster size — and with it per-cluster pair volume — grows as
    * √N instead of N. Two pre-collapse tiers keep mass duplication out
    * of the pair join: (1) BIT-IDENTICAL vectors collapse to their
    * min-id rep unconditionally (cos to any member == cos to the rep, so
    * this is decision-identical to all-pairs — spec-pinned); (2)
    * NEAR-IDENTICAL reps (distinct bytes, cosine ≈ 1 — ε-perturbed /
    * rescaled copies) collapse per (cid, int8-quantized code) onto their
    * min-id quantized rep, gated by cos(rep, qrep) ≥
    * √((1+threshold)/2) — the half-angle bound that guarantees every two
    * collapsed members sit within `threshold` of EACH OTHER, so each
    * collapsed rep genuinely has a lower-id above-threshold mate (its
    * qrep) and its drop is exact; a same-code rep FAILING the bound
    * stays its own pair-join participant and keeps the exact decision.
    * The one approximation is one-sided: a surviving qrep's mates are
    * tested rep-to-rep, so a borderline rep whose only above-threshold
    * mates were collapsed members (pairs inside the quantization margin
    * of the threshold) may be over-KEPT — never over-dropped; recall
    * lost at the boundary, precision intact. A 90 %-near-identical
    * corpus costs ~distinct-codes² per cell instead of 0.4·N².
    *
    * Tier 2 is ADAPTIVE: it engages only when some cell holds more than
    * `tier2CellBound` tier-1 reps — the mass-near-duplication signature
    * it exists for (a balanced autoCells clustering keeps reps/cell ≈ √N,
    * far under the default bound for any corpus below the 4096-cell cap).
    * Below the bound the operator computes the paper's EXACT
    * within-cluster rule, bit-for-bit equal to the all-pairs DuckDB
    * oracle — so every oracle-verified corpus is exact by construction
    * and tier-2's one-sided over-keep margin is confined to the regime
    * where the exact rule's Σ|cell|² cost is the thing being guarded
    * against. (The decision is one driver-side max over the ≤4096-row
    * per-cell rep counts; skipping tier 2 also skips its two bounded
    * shuffles, keeping the common-corpus plan at the r8 cost.)
    * Threshold decisions are replayable cross-engine:
    * dots are sequential-order float sums (graft_dot == list_dot_product
    * bit-for-bit) and the cosine composes them in one fixed
    * divide-of-products. Returns (vec_id-named idCol, cid, keep 1/0). */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, k: Int = 0, iters: Int = 2,
      trainCap: Int = DefaultTrainCap,
      tier2CellBound: Int = SemDedupTier2CellBound): DataFrame = {
    val (cells, cap) = cellsAndCap(corpus, idCol, k, trainCap)
    val centroids = kmeansCentroids(corpus, idCol, vecCol, cells, iters, cap)
    val assigned = assign(corpus, vecCol, centroids)
      .select(col(idCol), col("cid"), col(vecCol))
    // Exact-duplicate pre-collapse — the duplication-skew guard (the
    // star-edge move of this operator): identical vectors always land in
    // the same cell with pairwise cosine 1, so (a) every non-min member
    // of an identical group drops unconditionally, and (b) the min
    // member's fate depends only on OTHER groups' min ids (cos to any
    // group member == cos to its rep, and ∃ j < i0 in group g' ⇔
    // min(g') < i0). The pair join therefore runs over one min-id rep
    // per distinct vector per cell — decision-identical to all-pairs
    // (spec-pinned), but a 90 %-identical corpus costs ~distinct² per
    // cell instead of 0.4·N².
    //
    // reps feeds the tier-2 decision, both pair-join sides and the final
    // keep join — cached so the assignment + tier-1 aggregation runs
    // once, not once per consumer. Cache ownership follows the
    // CleanPipeline convention: the caller (Verify/Bench clear all
    // caches) unpersists when done. Size is one row per DISTINCT vector
    // per cell — bounded well below the corpus under mass duplication.
    val reps = assigned.groupBy(col("cid"), col(vecCol))
      .agg(min(col(idCol)).as("__rid"))
      .withColumn("__nrm", norm(col(vecCol)))
      .cache()
    // adaptive tier-2 trigger: the per-cell rep counts are a ≤|cells|-row
    // aggregate of the cached rep frame; max is a driver-side scalar
    val maxCellReps = Option(reps.groupBy("cid")
        .agg(count(lit(1)).as("__n")).agg(max(col("__n"))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    // Quantized near-identical collapse (tier 2, see scaladoc): group
    // the reps per (cid, int8 code); a rep within the half-angle bound
    // of its group's min-id rep collapses onto it (its drop is exact:
    // any two in-bound same-code members are within `threshold` of each
    // other). A same-code rep OUTSIDE the bound re-enters the pair join
    // as itself — the bound is the decision-safety gate, hit only by
    // pathological codes (many sub-half-step coordinates); a zero
    // vector's 0/0 cosine is NaN, which Spark orders above the bound,
    // but a cell holds at most one all-zero REP (bit-identical zeros
    // collapsed in tier 1) and a rep is never collapsed onto itself.
    // Grouping is by a 64-bit hash of the code, not the int array
    // itself — long shuffle keys instead of 64-element array keys, and
    // one min_by aggregation + ONE join instead of two joins. This is
    // decision-safe by construction: the GROUPING only proposes which
    // rep gets compared to which min-id candidate; the half-angle
    // cosine gate below is what authorizes a collapse (any gated drop
    // is exact regardless of how candidates were grouped), so even a
    // hash collision merging two codes can only propose comparisons
    // the gate then accepts or rejects on the actual vectors.
    val tagged = if (maxCellReps <= tier2CellBound.toLong) {
      // no mass-duplicated cell: the exact rule's pair join is affordable
      // by construction, so skip tier 2 (and its two shuffles) entirely
      reps.withColumn("__collapse", lit(false))
    } else {
      val collapseBound = math.sqrt((1.0 + threshold) / 2.0)
      val coded = quantizeInt8(reps, vecCol).drop("scale")
        .withColumn("__qc", xxhash64(col("q"))).drop("q")
      val qrep = coded.groupBy(col("cid"), col("__qc"))
        .agg(min(col("__rid")).as("__qid"),
          min_by(struct(col(vecCol).as("e"), col("__nrm").as("n")),
            col("__rid")).as("__q"))
      coded.join(qrep, Seq("cid", "__qc"))
        .withColumn("__collapse",
          col("__rid") =!= col("__qid") &&
            GraftFunctions.dotProduct(col(vecCol), col("__q.e")) /
              (col("__nrm") * col("__q.n")) >= collapseBound)
        .select(col("cid"), col(vecCol), col("__rid"), col("__nrm"),
          col("__collapse"))
        .cache()
    }
    val pj = tagged.filter(!col("__collapse"))
    val hi = pj.select(col("__rid").as("__hi"), col("cid"),
      col(vecCol).as("__he"), col("__nrm").as("__hn"))
    val lo = pj.select(col("__rid").as("__lo"), col("cid"),
      col(vecCol).as("__le"), col("__nrm").as("__ln"))
    val droppedReps = hi.join(lo, Seq("cid"))
      .filter(col("__lo") < col("__hi"))
      .filter(GraftFunctions.dotProduct(col("__he"), col("__le")) /
        (col("__hn") * col("__ln")) >= threshold)
      .select(col("__hi")).distinct()
    // one kill list: reps dropped by the pair join ∪ reps collapsed
    // onto a lower-id quantized twin (disjoint sets — collapsed reps
    // never enter the pair join)
    val deadReps = droppedReps
      .union(tagged.filter(col("__collapse")).select(col("__rid")))
      .withColumnRenamed("__hi", "__dead")
      .withColumn("__kill", lit(1))
    // a member keeps iff it IS its group's rep and that rep survived
    // both the quantized collapse and the rep pair join
    assigned
      .join(tagged.select(col("cid"), col(vecCol), col("__rid")),
        Seq("cid", vecCol))
      .join(deadReps, col("__rid") === col("__dead"), "left")
      .select(col(idCol), col("cid"),
        when(col(idCol) === col("__rid") && col("__kill").isNull, lit(1))
          .otherwise(lit(0)).as("keep"))
  }

  /** IVF ANN: assign corpus once, probe the `nprobe` nearest cells per
    * query, exact-rerank only those cells' members. Candidate volume ≈
    * nprobe/k of the corpus instead of all of it.
    * `nCells = 0` selects the 100 TB mode: cells ≈ √N (autoCells) with
    * Lloyd refinement over a bounded md5-ordered sample, so per-query
    * candidates AND training cost stay ~√N as the corpus grows. */
  def ivfCosine(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, nCells: Int = 16, nprobe: Int = 3,
      iters: Int = 2, trainCap: Int = DefaultTrainCap): DataFrame = {
    val (cells, cap) = cellsAndCap(corpus, idCol, nCells, trainCap)
    val codec = f64Codec(vecCol)
    rankTopK(cellPairs(corpus, queries, idCol, vecCol, codec,
      kmeansCentroids(corpus, idCol, vecCol, cells, iters, cap), nprobe),
      idCol, codec, k)
  }

  /** IVF with int8-quantized re-rank — the memory-bounded 100 TB shape:
    * the coarse quantizer (float centroids) routes queries to cells, but
    * the resident per-cell vectors are int8 (4× smaller index) and
    * candidate scoring is exact integer dots rescaled to approximate
    * cosine. Same cell assignment/probing as ivfCosine; only the re-rank
    * arithmetic changes. Returns (query_id, neighbor_id, dot_q, qcos,
    * rank). */
  def ivfCosineInt8(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, nCells: Int = 16, nprobe: Int = 3,
      iters: Int = 2, trainCap: Int = DefaultTrainCap): DataFrame = {
    val (cells, cap) = cellsAndCap(corpus, idCol, nCells, trainCap)
    val codec = int8Codec(vecCol)
    rankTopK(cellPairs(corpus, queries, idCol, vecCol, codec,
      kmeansCentroids(corpus, idCol, vecCol, cells, iters, cap), nprobe),
      idCol, codec, k)
  }

  /** Exact brute-force cosine top-k (broadcast query set).
    * `excludeSelf` drops neighbor_id == query_id matches — right for
    * corpus-vs-corpus dedup, wrong for external query sets whose ids
    * merely collide with corpus ids. */
  def bruteForceCosine(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, excludeSelf: Boolean = true): DataFrame = {
    val codec = f64Codec(vecCol)
    rankTopK(allPairs(corpus, queries, idCol, codec, excludeSelf), idCol,
      codec, k)
  }

  /** Symmetric int8 quantization: per-vector scale = max|x| / 127,
    * q_i = round(x_i / scale) ∈ [-127, 127]. Adds `q` (array<int>) and
    * `scale` (double); an all-zero vector quantizes to zeros with
    * scale 0. At 100 TB this is the memory move that keeps an ANN index
    * resident: 4× smaller vectors, and the dot product becomes exact
    * 32-bit integer MACs (sums fit a long for dim ≤ 2^15), so candidate
    * scoring is both cheaper and bit-deterministic — no float
    * accumulation order to worry about across engines or partitionings.
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    // typed lambda API (not string-spliced expr SQL) so column names
    // needing quoting — dots, hyphens, spaces — resolve like everywhere
    // else in this file
    val v = col(vecCol)
    df.withColumn("scale",
        aggregate(v, lit(0.0), (m, x) => greatest(m, abs(x.cast("double"))))
          / 127.0)
      .withColumn("q",
        transform(v, x => when(col("scale") === 0.0, lit(0))
          .otherwise(round(x.cast("double") / col("scale")).cast("int"))))
  }

  /** Exact integer dot of two int8 arrays (as a long), rescaled to the
    * approximate float dot: dot_q * scale_a * scale_b. */
  def quantizedDot(qa: String, qb: String): org.apache.spark.sql.Column =
    aggregate(zip_with(col(qa), col(qb), (x, y) => x.cast("bigint") * y),
      lit(0L), (acc, v) => acc + v)

  // ---- Product Quantization (Jégou, Douze & Schmid, TPAMI 2011) ----------

  /** Left-to-right double dot — the same fold order as the codegen'd
    * DotProduct expression and DuckDB's list_dot_product, so a driver-side
    * constant computed here is bit-identical to either engine's column. */
  private def dotLR(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Micro fixed-point with HALF_UP (away-from-zero) rounding — the
    * semantics of BOTH Spark's `round()` and DuckDB's `ROUND()` on
    * doubles. BigDecimal.valueOf(x) rounds the SHORTEST-DECIMAL
    * representation of x (Double.toString), NOT the exact binary
    * expansion — which is precisely what matches the engines, because
    * their round() goes through the same shortest-decimal view. Do NOT
    * "correct" this to `new BigDecimal(x)` (exact binary): it would
    * break engine parity on values whose binary expansion crosses a
    * half boundary the decimal rendering doesn't. Dots can be negative,
    * so Math.round (floor(x+0.5)) would disagree with the engines on
    * negative halfway values; BigDecimal HALF_UP cannot. */
  private def microFp(x: Double): Long =
    java.math.BigDecimal.valueOf(x).movePointRight(6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** Per-subspace PQ codebooks: the vector splits into `m` contiguous
    * subspaces of dim/m dimensions, each trained with its own
    * deterministic k-means ([[kmeansCentroids]] on the sliced column —
    * md5-seeded init, exact-decimal Lloyd means), so every codebook value
    * is re-derivable in any engine. Returns m codebooks of k
    * (cid, sub-centroid) entries, cid-ascending.
    *
    * Scale shape: training cost is m small k-means runs over (at most)
    * the trainCap sample; the codebooks are m·k·(dim/m) = k·dim doubles
    * total — driver-held and broadcast as literals, never shuffled. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 4, k: Int = 16, iters: Int = 2,
      trainCap: Int = 0): Array[Array[(Int, Array[Double])]] = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    val dsub = dim / m
    // all m sub-trainings batch into one job per Lloyd step
    // (kmeansCentroidsSliced) — same codebooks, m× fewer driver jobs
    kmeansCentroidsSliced(corpus, idCol, vecCol,
      (0 until m).map(sub => (sub * dsub, dsub, k)), iters, trainCap)
  }

  /** PQ encode: adds `code_0..code_{m-1}` (nearest sub-centroid per
    * subspace, lowest-cid ties — the [[kmeansCentroids]] assignment rule)
    * plus `recon_n2_fp`, the reconstruction's squared norm in exact micro
    * units (each per-codeword |c|² is a driver-side micro-rounded literal;
    * the sum of m BIGINTs is order-free, so the value is identical in any
    * engine and under any partitioning).
    *
    * THIS is the index a 100 TB store persists: m code bytes a vector
    * instead of 4·dim float bytes — a 64× smaller scan at dim=64/m=4 —
    * while search never touches the original vectors. */
  def pqEncode(corpus: DataFrame, vecCol: String, dim: Int,
      books: Array[Array[(Int, Array[Double])]]): DataFrame = {
    val m = books.length
    val dsub = dim / m
    // codes land straight in code_{sub}: an input `cid` column (the IVF
    // coarse cell) passes through untouched
    val out = (0 until m).foldLeft(corpus) { (acc, sub) =>
      assign(acc.withColumn("_sv", slice(col(vecCol), sub * dsub + 1, dsub)),
        "_sv", books(sub), s"code_$sub").drop("_sv")
    }
    // Lloyd can empty a cell, leaving cid gaps — slot the literal arrays
    // BY CID (unused slots hold 0, unreachable: assign only emits cids
    // that exist in the book)
    val n2 = (0 until m).map { sub =>
      val byCid = books(sub)
        .map { case (cid, c) => cid -> microFp(dotLR(c, c)) }.toMap
      val slots = (0 to books(sub).map(_._1).max)
        .map(cid => lit(byCid.getOrElse(cid, 0L)))
      element_at(array(slots: _*), col(s"code_$sub") + 1)
    }.reduce(_ + _)
    out.withColumn("recon_n2_fp", n2)
  }

  /** Adds `lut_0..lut_{m-1}` integer LUT columns to a query frame:
    * lut_s[cid] = micro(dot(q_sub_s, codebook_s[cid])) — slotted BY CID
    * (Lloyd gaps hold a never-looked-up 0). */
  private def withPqLuts(q: DataFrame, vecCol: String, dsub: Int,
      books: Array[Array[(Int, Array[Double])]]): DataFrame =
    books.indices.foldLeft(q) { (acc, sub) =>
      val qs = slice(col(vecCol), sub * dsub + 1, dsub)
      val byCid = books(sub).toMap
      val entries = (0 to books(sub).map(_._1).max).map { cid =>
        byCid.get(cid) match {
          case Some(c) =>
            round(GraftFunctions.dotProduct(qs, array(c.map(lit(_)): _*)) * 1e6,
              0).cast("bigint")
          case None => lit(0L) // cid gap (emptied cell) — never looked up
        }
      }
      acc.withColumn(s"lut_$sub", array(entries: _*))
    }

  /** The ADC score: Σ_sub lut_sub[code_sub] — m integer lookups, one
    * order-free BIGINT sum. */
  private def pqAdcFp(m: Int): Column =
    (0 until m)
      .map(s => element_at(col(s"lut_$s"), col(s"code_$s") + 1))
      .reduce(_ + _)

  /** Guarded ADC cosine over (adc_fp, qnrm, recon_n2_fp): a zero query
    * vector (qnrm 0) or an all-zero reconstruction (recon_n2_fp 0 —
    * degenerate codebooks over a degenerate corpus) would divide by zero
    * and yield NaN/Infinity, which Spark's desc window ranks FIRST,
    * silently promoting garbage to rank 1. Demote to -Infinity instead
    * (the nanvl move assign() uses): degenerate rows rank last,
    * deterministically by neighbor_id. Non-degenerate corpora are
    * untouched (denominator > 0 ⇒ same value as the unguarded divide),
    * so the DuckDB oracle twins — which omit the guard; the fixtures
    * hold no zero vectors — stay bit-identical. */
  private def adcCosineGuarded: Column = {
    val denom = col("qnrm") * sqrt(col("recon_n2_fp").cast("double") / 1e6)
    when(denom > 0.0, col("adc_fp").cast("double") / 1e6 / denom)
      .otherwise(lit(Double.NegativeInfinity))
  }

  /** PQ top-k by asymmetric distance computation (ADC): each query builds
    * m integer lookup tables lut_s[c] = micro(dot(q_sub, codebook_s[c]))
    * ONCE (m·k micro-rounded dots — the query row carries k·dim literal
    * multiplies, the corpus side none), and scoring a corpus vector is m
    * array lookups + an integer sum — O(m) per pair instead of O(dim),
    * and bit-deterministic because micro-fixed-point sums have no float
    * accumulation order. The approximate cosine divides by the
    * reconstruction norm (from `recon_n2_fp`), so ranking matches the
    * paper's dot-to-reconstruction rule; ties break by neighbor_id.
    *
    * Scale shape: corpus side scans codes only (m bytes/vector), queries
    * broadcast with their LUTs, no shuffle of the big side; the window is
    * per-query over candidate rows. Compose with [[withBuckets]] or IVF
    * cells to prune candidates when |Q|·N scans exceed budget. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int = 4, k: Int = 16, iters: Int = 2,
      topK: Int = 10, trainCap: Int = 0, excludeSelf: Boolean = true): DataFrame = {
    val codec = pqCodec(vecCol, vecCol, dim,
      pqCodebooks(corpus, idCol, vecCol, dim, m, k, iters, trainCap))
    rankTopK(allPairs(corpus, queries, idCol, codec, excludeSelf), idCol,
      codec, topK)
  }

  /** IVF + PQ — the IVFADC architecture (Jégou et al., TPAMI 2011 §V)
    * minus the residual step: the coarse quantizer routes each query to
    * its `nprobe` nearest cells and candidates are gathered by an
    * EQUI-JOIN on cid (never a corpus × queries product), then scored by
    * PQ-ADC over m byte codes — the exact integer-LUT arithmetic of
    * [[pqTopK]]. The resident index row is (cid, m code bytes, one
    * norm long): the layout a 100 TB embedding store keeps hot, with the
    * probe bounding scan work to Σ|probed cells| per query.
    *
    * Vectors encode RAW (not as coarse-cell residuals): the simplest
    * IVFADC shape, with the residual refinement's extra
    * precision-per-byte available in [[ivfPqResTopK]]. Ranking is
    * (adc_cosine desc, neighbor_id). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, nCells: Int = 16, nprobe: Int = 4,
      m: Int = 4, k: Int = 16, iters: Int = 2, topK: Int = 10,
      trainCap: Int = 0): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    val dsub = dim / m
    // the coarse quantizer and the m sub-codebooks are independent
    // trainings over the SAME corpus — one batched Lloyd loop
    // (kmeansCentroidsSliced) runs them all: 1 seed collect + iters
    // jobs total, vs (m+1) × (1 + iters) separate driver round-trips
    val all = kmeansCentroidsSliced(corpus, idCol, vecCol,
      (-1, 0, nCells) +: (0 until m).map(sub => (sub * dsub, dsub, k)),
      iters, trainCap)
    val codec = pqCodec(vecCol, vecCol, dim, all.tail)
    rankTopK(cellPairs(corpus, queries, idCol, vecCol, codec, all.head,
      nprobe), idCol, codec, topK)
  }

  /** IVF + PQ with RESIDUAL encoding — IVFADC complete (Jégou et al.,
    * TPAMI 2011 §V): each vector encodes its residual r = x − c(cell)
    * from its coarse centroid, so the sub-codebooks spend their k
    * codewords on the residual distribution around the centroids instead
    * of the whole space — the precision-per-byte refinement the raw
    * [[ivfPqTopK]] documents as its trade. The reconstruction is
    * x̂ = c + r̂, and because the ranking rule here is cosine-to-
    * reconstruction, the score decomposes exactly:
    *
    *   dot(q, x̂)  = dot(q, c) + Σ_sub dot(q_sub, cw_sub)     (raw-q LUTs!)
    *   |x̂|²       = |c|² + Σ_sub (2·dot(c_sub, cw_sub) + |cw_sub|²)
    *
    * — so the query still builds ONE LUT set on its raw vector (not one
    * per probed cell; the per-(query, cell) extra is a single
    * micro-rounded dot(q, c)), and the corpus row's reconstruction norm
    * is a per-(cell, sub, code) integer constant table (nCells·m·k
    * driver-held micro longs, broadcast as literals). Every term is
    * micro-rounded BEFORE the order-free BIGINT sums, so both engines
    * rank bit-identically. Candidates gather by cid equi-join as in
    * [[ivfPqTopK]]; the resident index row is (cid, m code bytes, one
    * norm long) — unchanged.
    *
    * The literal centroid matrix bounds nCells ≲ a few hundred at dim 64
    * (cells×dim literal nodes on the residual subtract and the qc dot);
    * past that the matrix belongs in a native expression the way
    * NearestCells does assignment. Returns (query_id, neighbor_id,
    * adc_fp, adc_cosine, rank). */
  def ivfPqResTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, nCells: Int = 16, nprobe: Int = 4,
      m: Int = 4, k: Int = 16, iters: Int = 2, topK: Int = 10,
      trainCap: Int = 0): DataFrame = {
    val centroids = kmeansCentroids(corpus, idCol, vecCol, nCells, iters,
      trainCap)
    val dsub = dim / m
    val maxCid = centroids.map(_._1).max
    val centByCid = centroids.toMap
    // literal centroid matrix slotted by cid (Lloyd gaps hold a
    // never-assigned zero vector)
    def centArr: Column = array((0 to maxCid).map { cid =>
      array(centByCid.getOrElse(cid, Array.fill(dim)(0.0)).map(lit(_)): _*)
    }: _*)
    // residual r = x − c(cell) against the row's assigned coarse cell
    def residual(df: DataFrame): DataFrame = df.withColumn("__rv",
      zip_with(col(vecCol), element_at(centArr, col("cid") + 1),
        (x, c) => x - c))
    // sub-codebooks trained on the RESIDUALS (one set across all cells —
    // the standard IVFADC memory/generality trade, §V)
    val books = pqCodebooks(residual(assign(corpus, vecCol, centroids)),
      idCol, "__rv", dim, m, k, iters, trainCap)
    // |x̂|² in exact micro units: per-cell |c|² base + per-(cell, sub,
    // code) cross terms, each a single micro rounding (the oracle
    // replays the identical 2·dot + |cw|² composition)
    val baseArr = array((0 to maxCid).map { cid =>
      lit(centByCid.get(cid).map(c => microFp(dotLR(c, c))).getOrElse(0L))
    }: _*)
    val crossN2 = (0 until m).map { sub =>
      val maxCode = books(sub).map(_._1).max
      val bySubCid = books(sub).toMap
      val lit2d = array((0 to maxCid).map { cell =>
        val cSub = centByCid.getOrElse(cell, Array.fill(dim)(0.0))
          .slice(sub * dsub, (sub + 1) * dsub)
        array((0 to maxCode).map { code =>
          lit(bySubCid.get(code).map(cw =>
            microFp(2.0 * dotLR(cSub, cw) + dotLR(cw, cw))).getOrElse(0L))
        }: _*)
      }: _*)
      element_at(element_at(lit2d, col("cid") + 1), col(s"code_$sub") + 1)
    }.reduce(_ + _)
    // the PQ codec over the residual, with its reconstruction norm
    // replaced by the exact |x̂|²; LUTs still build on the RAW query
    // vector, once per query — the residual decomposition only adds the
    // per-probe micro dot(q, c)
    val pq = pqCodec(vecCol, "__rv", dim, books)
    val codec = pq.copy(
      corpus = df => pq.corpus(residual(df)).withColumn("recon_n2_fp",
        element_at(baseArr, col("cid") + 1) + crossN2),
      qCols = pq.qCols :+ col(vecCol).as("qvec"),
      perProbe = Seq("qc_fp" -> round(GraftFunctions.dotProduct(col("qvec"),
        element_at(centArr, col("cid") + 1)) * 1e6, 0).cast("bigint")),
      scores = ("adc_fp" -> (col("qc_fp") + pqAdcFp(m))) +: pq.scores.tail)
    rankTopK(cellPairs(corpus, queries, idCol, vecCol, codec, centroids,
      nprobe), idCol, codec, topK)
  }

  /** Brute-force top-k over int8-quantized vectors (broadcast query set).
    * Scores are cosine over the DEquantized dot: (dot_q·sa·sb)/(|a||b|)
    * with norms from the original floats — the standard recall probe for
    * a quantized index. Ranking ties break by neighbor_id. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 10): DataFrame = {
    val codec = int8Codec(vecCol)
    rankTopK(allPairs(corpus, queries, idCol, codec, excludeSelf = true),
      idCol, codec, k)
  }
}
