package graft.scale

import graft.core.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * score every corpus vector, keep k per query. The scored relation is
  * |corpus| × |queries| rows but only (qid, nid, sim); with per-partition
  * pre-top-k the shuffle shrinks to partitions × queries × k rows, so the
  * plan survives a 1000-executor corpus as long as the query set broadcasts.
  *
  * Scale path: random-hyperplane LSH — bucket corpus and queries by sign
  * bits, rerank exactly within colliding buckets. Candidate generation is an
  * equi-join on the bucket key; no full cross product ever materializes.
  */
object Similarity {

  /** Cosine similarity between two float-array columns, accumulated in
    * double, strictly left-to-right (matches a sequential fold, so results
    * are bit-reproducible). Backed by the native codegen'd
    * [[graft.expressions.CosineSimilarity]] expression; `cosineHof` is the
    * built-in-functions form it is verified against.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.CosineSimilarity(
        org.apache.spark.sql.GraftColumnBridge.expression(a.cast("array<double>")),
        org.apache.spark.sql.GraftColumnBridge.expression(b.cast("array<double>"))))

  /** The same fold via built-in higher-order functions (interpreted lambdas;
    * kept as the semantic reference for the native expression).
    */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0d), (acc, v) => acc + v)
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Brute-force cosine top-k: every query vs every corpus vector, ranked.
    * `queries` must be broadcast-small. Output: (qid, rank, nid, sim).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    val scored = corpus.select(col(idCol).as("nid"), col(vecCol).as("cv"))
      .join(q, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("sim"))
  }

  /** Same result with a per-mapper pre-top-k (the custom TopKPerKey
    * operator's partial heap pass) before the global rank — the shuffle
    * carries at most numPartitions × |queries| × k rows instead of
    * |corpus| × |queries|. This is the form to use when the corpus is large.
    */
  /** The top-k forms emit ids as long, and `cast("long")` on a non-numeric
    * column yields NULL silently — fail at call time with the actual
    * contract instead.
    */
  private[scale] def requireNumericId(df: DataFrame, idCol: String, op: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$op requires a numeric id column castable to long; '$idCol' is $dt")
  }

  def bruteForceTopKPartial(corpus: DataFrame, queries: DataFrame, k: Int,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // ids are cast to long explicitly so both top-k forms emit one schema
    // regardless of the caller's id type
    requireNumericId(corpus, idCol, "bruteForceTopKPartial")
    val q = broadcast(queries.select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv")))
    val scored = corpus.select(col(idCol).cast("long").as("nid"), col(vecCol).as("cv"))
      .join(q, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("cv")).as("sim"))
    rankedTopK(scored, k, "sim")
  }

  /** Shared top-k tail of every (qid, nid, score-ish) ranking: the custom
    * TopKPerKey operator (graft.plans) prunes with partial bounded heaps
    * per mapper, so the shuffle carries ≤ partitions × |queries| × k rows,
    * on UnsafeRows with no encoder round trip. Its final pass leaves
    * survivors clustered by qid, so the k-row rank window below adds no
    * exchange — just a local sort of k-sized groups. The operator's
    * comparator carries the full (score desc, nid asc) total order, so
    * integer-score ties resolve exactly as the final rank does.
    */
  private def rankedTopK(scored: DataFrame, k: Int, scoreCol: String): DataFrame = {
    val topk = graft.ops.TopK.topKPerKey(scored, Seq("qid"),
      Seq(col(scoreCol).desc, col("nid").asc), k)
    val w = Window.partitionBy("qid").orderBy(col(scoreCol).desc, col("nid"))
    topk.withColumn("rnk", row_number().over(w))
      .select(col("qid"), col("rnk"), col("nid"), col(scoreCol))
  }

  /** int8 scalar quantization of an embedding column: per-vector symmetric
    * scale — max |x| maps to ±127 — appended as `codeCol`
    * (`array<tinyint>`). Every step (float→double widen, divide, multiply,
    * round-half-away-from-zero) is identical on any IEEE engine, so the
    * codes and every integer score derived from them are value-exact
    * cross-engine — unlike float cosine, which is only reproducible because
    * both engines happen to fold left-to-right.
    *
    * At 100 TB this is the memory-bandwidth lever: 4 bytes → 1 byte per
    * component cuts the scan volume of a brute-force or IVF rerank 4×, and
    * the integer MACs vectorize wider than float ones. Zero vectors code to
    * all-zero (guarded, not NaN).
    */
  /** Grouped vector aggregation: per-group element-wise sum of QUANTIZED
    * codes plus the group count — the exact sufficient statistic for a
    * centroid (mean = sum/count, deferred to the consumer so everything
    * stored is integer-exact). Runs through the native
    * [[graft.expressions.VecSumLong]] `TypedImperativeAggregate`, so the
    * hash aggregate does map-side partial aggregation: one `long[dim]` per
    * (partition, group) rides the shuffle, never the vectors. Aggregating
    * codes, not floats, is what makes the answer independent of addition
    * order — float centroids differ in low bits across partitionings.
    */
  def groupedCodeSums(df: DataFrame, groupCol: String,
                      codeCol: String = "qcode"): DataFrame =
    df.groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_vecs"),
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.expressions.VecSumLong(
            org.apache.spark.sql.GraftColumnBridge.expression(col(codeCol)))
            .toAggregateExpression()).as("code_sum"))

  def quantizeInt8(df: DataFrame, vecCol: String = "embedding",
                   codeCol: String = "qcode"): DataFrame = {
    val vd = col(vecCol).cast("array<double>")
    val s = array_max(transform(vd, x => abs(x)))
    val codes = transform(vd, x => round(x / s * 127).cast("tinyint"))
    df.withColumn(codeCol,
      when(s === 0d, transform(vd, _ => lit(0).cast("tinyint"))).otherwise(codes))
  }

  /** Native codegen'd integer dot over two `array<tinyint>` code columns
    * ([[graft.expressions.Int8DotProduct]]); `int8DotHof` is the
    * built-in-functions form it is verified against.
    */
  def int8Dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.Int8DotProduct(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** The same sum via built-in higher-order functions (interpreted lambdas;
    * kept as the semantic reference for the native expression). The
    * coalesce drops the null products `zip_with` pads a shorter array with,
    * so ragged pairs truncate to the shorter length exactly like the native
    * loop instead of poisoning the sum to NULL.
    */
  def int8DotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => coalesce(x.cast("long") * y.cast("long"), lit(0L))),
      lit(0L), (acc, v) => acc + v)

  /** Brute-force top-k ranked by the quantized integer dot product
    * Σ qcode·ccode — the int8 rerank order. Same per-partition bounded-heap
    * shape as [[bruteForceTopKPartial]] (shuffle = partitions × |queries| ×
    * k), but the score is an exact BIGINT, so the ranking is engine-exact by
    * arithmetic, not by accumulation-order luck. Output: (qid, rnk, nid,
    * score).
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // long-cast ids for the same reason as bruteForceTopKPartial: the typed
    // heap stage is (long, long, long), and the cast makes that contract
    // explicit instead of an encoder analysis error on non-long id columns
    requireNumericId(corpus, idCol, "quantizedTopK")
    val qz = quantizeInt8(queries, vecCol)
      .select(col(idCol).cast("long").as("qid"), col("qcode").as("qc"))
    val cz = quantizeInt8(corpus, vecCol)
      .select(col(idCol).cast("long").as("nid"), col("qcode").as("cc"))
    val dot = int8Dot(col("qc"), col("cc"))
    val scored = cz.join(broadcast(qz), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), dot.as("score"))
    longScoreTopK(scored, k)
  }

  /** Integer-scored [[rankedTopK]] ([[quantizedTopK]], [[AnnIndex.probeIvf]],
    * [[knnJoinQuantized]]). */
  private[scale] def longScoreTopK(scored: DataFrame, k: Int): DataFrame =
    rankedTopK(scored, k, "score")

  /** Semi-hard negative mining for contrastive training data (Schroff et
    * al., CVPR 2015 §3.3 — the FaceNet triplet-selection rule, in
    * similarity form): given labeled (qid, pos_id) anchor/positive pairs,
    * mine the top-`k` corpus vectors per anchor that score STRICTLY below
    * the positive but within a relative margin of it —
    * `score < pos_score` and `(pos_score − score)·marginDen ≤
    * pos_score·marginNum`. Too-close candidates (score ties with the
    * positive — probable duplicates, i.e. false negatives) and too-easy
    * ones (outside the margin, which contribute no gradient) are both
    * excluded. Scores are the exact int8-quantized BIGINT dots
    * ([[quantizedTopK]]'s arithmetic), so the margin test and the ranking
    * replay exactly on any engine; anchors whose positive scores ≤ 0 are
    * skipped (the relative margin's sign convention requires a positive
    * reference score).
    *
    * Scale shape (100 TB): the label panel (anchor codes + each pair's
    * positive score) is assembled by two broadcast-label probes over the
    * corpus and is itself broadcast; the mining pass is ONE corpus scan
    * with the margin predicate evaluated scan-side BEFORE the
    * [[graft.plans.TopKPerKey]] bounded heaps — the shuffle carries at
    * most partitions × |labels| × k rows, never the corpus.
    *
    * Output: (qid, pos_id, neg_rank, neg_id, score, gap), gap =
    * pos_score − score; anchors with fewer than `k` in-margin candidates
    * emit fewer rows.
    */
  def semiHardNegatives(corpus: DataFrame, labels: DataFrame, k: Int,
                        marginNum: Int, marginDen: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && marginNum >= 0 && marginDen >= 1,
      s"semiHardNegatives: k=$k marginNum=$marginNum marginDen=$marginDen")
    requireNumericId(corpus, idCol, "semiHardNegatives")
    val cz = quantizeInt8(corpus, vecCol)
      .select(col(idCol).cast("long").as("nid"), col("qcode").as("cc"))
    val lb = labels.select(col("qid").cast("long").as("qid"),
      col("pos_id").cast("long").as("pos_id"))
    // panel assembly: two broadcast-label probes over the corpus (scan-local,
    // no corpus shuffle, no corpus-sized checkpoint), then the small panel
    // itself broadcasts into the mining scan
    val qSide = cz.join(broadcast(lb), col("nid") === col("qid"))
      .select(col("qid"), col("pos_id"), col("cc").as("qc"))
    val panel = cz.join(broadcast(qSide), col("nid") === col("pos_id"))
      .select(col("qid"), col("pos_id"), col("qc"),
        int8Dot(col("qc"), col("cc")).as("pos_score"))
      .filter(col("pos_score") > 0)
    val mined = cz
      .join(broadcast(panel), col("nid") =!= col("qid") && col("nid") =!= col("pos_id"))
      .select(col("qid"), col("pos_id"), col("pos_score"), col("nid"),
        int8Dot(col("qc"), col("cc")).as("score"))
      .filter(col("score") < col("pos_score") &&
        (col("pos_score") - col("score")) * marginDen <= col("pos_score") * marginNum)
    // heap + rank keyed by (qid, pos_id): with multiple positives per anchor
    // each pair gets its own k budget and a per-pair neg_rank, instead of all
    // pairs interleaving in one qid-wide window
    val topk = graft.ops.TopK.topKPerKey(mined, Seq("qid", "pos_id"),
      Seq(col("score").desc, col("nid").asc), k)
    val w = Window.partitionBy("qid", "pos_id").orderBy(col("score").desc, col("nid"))
    topk.withColumn("neg_rank", row_number().over(w).cast("long"))
      .select(col("qid"), col("pos_id"), col("neg_rank"), col("nid").as("neg_id"),
        col("score"), (col("pos_score") - col("score")).as("gap"))
  }

  /** Semantic eval-set decontamination: flag every corpus vector whose
    * embedding is cosine-close to ANY eval vector — the embedding-level
    * complement of the n-gram screens (q70/q268), catching paraphrased or
    * re-tokenized eval leakage that shares no exact grams. The threshold
    * is exact integer COSINE via cross-multiplied squares on the int8
    * codes: flag iff `dot > 0` and
    * `dot²·cosDen² ≥ cosNum²·self(c)·self(e)` (self = a code's dot with
    * itself), so no square root and no float ever runs — `cos ≥ 3/4` is
    * `(3, 4)`. Bounds: |dot| ≤ dim·127², so dot² at dim 4096 is ~4.4e15 —
    * every product stays far inside a long.
    *
    * Scale shape: the eval panel (with precomputed self-energies)
    * broadcasts; the screen is ONE corpus scan with the squared-cosine
    * predicate inside the broadcast join condition, aggregated to a
    * per-doc flag count. Output: (vec_id, n_flagged, dropped 0/1) for
    * every corpus vector.
    */
  def semanticDecontaminate(corpus: DataFrame, evalVecs: DataFrame,
                            cosNum: Int = 3, cosDen: Int = 4,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(cosNum >= 0 && cosDen >= 1 && cosNum <= cosDen,
      s"semanticDecontaminate: cosine threshold $cosNum/$cosDen outside [0, 1]")
    requireNumericId(corpus, idCol, "semanticDecontaminate")
    val cz = quantizeInt8(corpus, vecCol)
      .select(col(idCol).cast("long").as("nid"), col("qcode").as("cc"))
    val ez = quantizeInt8(evalVecs, vecCol)
      .select(col(idCol).cast("long").as("eid"), col("qcode").as("ec"))
      .withColumn("eself", int8Dot(col("ec"), col("ec")))
    val dot = int8Dot(col("cc"), col("ec"))
    val cself = int8Dot(col("cc"), col("cc"))
    val flagged = cz
      .join(broadcast(ez),
        dot > 0 && dot * dot * lit(cosDen.toLong * cosDen) >=
          lit(cosNum.toLong * cosNum) * cself * col("eself"))
      .groupBy("nid").agg(count(lit(1)).as("n_flagged"))
    corpus.select(col(idCol).cast("long").as("nid"))
      .join(flagged, Seq("nid"), "left")
      .select(col("nid").as(idCol),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        when(coalesce(col("n_flagged"), lit(0L)) > 0, 1L).otherwise(0L).as("dropped"))
  }

  private def resolveDim(df: DataFrame, vecCol: String, dim: Int): Int =
    if (dim > 0) dim else df.select(size(col(vecCol)).as("d")).head().getInt(0)

  /** Random-hyperplane sign-bit bucket expression: `planes` sign bits packed
    * into a long. Hyperplane components are seeded-deterministic literals, so
    * the whole expression stays in codegen.
    */
  def bucketExpr(planes: Int, dim: Int, seed: Long, vecCol: String): Column = {
    val rnd = new scala.util.Random(seed)
    val hyperplanes = Array.fill(planes, dim)(rnd.nextGaussian())
    val vd = col(vecCol).cast("array<double>")
    val bits = (0 until planes).map { p =>
      // zip_with against the plane literal: length-safe (no element_at past
      // the end -> null -> all-zero buckets) and stays in codegen
      val plane = typedLit(hyperplanes(p).toSeq)
      val dot = aggregate(zip_with(vd, plane, (x, y) => x * y), lit(0d), (acc, v) => acc + v)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** The input plus a `bucket` column. `dim` defaults to -1 = derived from
    * the data (one cheap head() at plan time) — a wrong hard-coded dim would
    * silently truncate the dot products.
    */
  def hyperplaneBuckets(df: DataFrame, planes: Int = 12, dim: Int = -1, seed: Long = 42,
                        vecCol: String = "embedding"): DataFrame = {
    val d = resolveDim(df, vecCol, dim)
    df.withColumn("bucket", bucketExpr(planes, d, seed, vecCol))
  }

  /** LSH ANN top-k with `tables` independent hyperplane tables: a corpus
    * vector is a candidate if it collides with the query in ANY table
    * (optionally within one flipped bit — `probes=1`). For a near pair with
    * per-plane agreement p, one table captures P1 = p^planes +
    * planes·(1-p)·p^(planes-1); L tables capture 1-(1-P1)^L — multi-table is
    * what makes high recall affordable without shrinking planes (which would
    * blow up bucket sizes). Queries broadcast, so the corpus side never
    * shuffles; candidate pairs dedup before the exact rerank.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 12, dim: Int = -1, probes: Int = 1, tables: Int = 4,
              seed: Long = 42,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val d = resolveDim(corpus, vecCol, dim)
    // Bucket relation stays NARROW — (nid, tid, bucket) longs only. The
    // vector column must not ride through the tables-x explode and the
    // collision join: at scale that multiplies shuffle volume by `tables`
    // x vector width. Vectors are re-joined by id for candidates only.
    val cBuckets = array((0 until tables).map(t =>
      struct(lit(t).as("tid"), bucketExpr(planes, d, seed + t, vecCol).as("bucket"))): _*)
    val c = corpus
      .select(col(idCol).as("nid"), explode(cBuckets).as("tb"))
      .select(col("nid"), col("tb.tid").as("tid"), col("tb.bucket").as("bucket"))
    val qWithB = (0 until tables).foldLeft(queries) { (df, t) =>
      df.withColumn(s"__b$t", bucketExpr(planes, d, seed + t, vecCol))
    }
    val qProbes = array((0 until tables).flatMap { t =>
      val base = struct(lit(t).as("tid"), col(s"__b$t").as("bucket"))
      val flips = if (probes >= 1)
        (0 until planes).map(p => struct(lit(t).as("tid"),
          col(s"__b$t").bitwiseXOR(lit(1L << p)).as("bucket")))
      else Nil
      base +: flips
    }: _*)
    val q = broadcast(qWithB
      .select(col(idCol).as("qid"), explode(qProbes).as("tb"))
      .select(col("qid"), col("tb.tid").as("tid"), col("tb.bucket").as("bucket")))
    val pairs = c.join(q, Seq("tid", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
      .distinct() // collapse multi-table/multi-probe hits before rerank
    val qv = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    val cv = corpus.select(col(idCol).as("nid"), col(vecCol).as("cv"))
    rankedTopK(pairs.join(qv, "qid").join(cv, "nid")
      .select(col("qid"), col("nid"), cosine(col("qv"), col("cv")).as("sim")),
      k, "sim")
  }

  /** Deterministic hash-ordered sample of corpus vectors, collected to the
    * driver. The collect is bounded by `n` regardless of corpus size (2,048
    * × dim doubles ≈ 1 MB at dim 64) — centroid TRAINING data is
    * metadata-sized by design; the corpus itself never leaves executors.
    */
  private def sampleVectors(corpus: DataFrame, n: Int,
                            idCol: String, vecCol: String): Array[Array[Double]] =
    corpus.select(col(vecCol).cast("array<double>").as("v"))
      .orderBy(xxhash64(col(idCol).cast("string")))
      .limit(n)
      .collect()
      .map(_.getSeq[Double](0).toArray)

  private def normalize(v: Array[Double]): Array[Double] = {
    var s = 0d
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0d) v else v.map(_ / n)
  }

  /** Spherical k-means over a bounded sample: unit-normalize the sample,
    * init from its hash-order head (the previous sampled-centroid stand-in),
    * then `iters` Lloyd rounds of argmax-dot assignment + mean +
    * renormalize. Empty clusters keep their previous centroid. Training cost
    * is O(sampleN · k · dim · iters) driver-local flops — milliseconds —
    * and the result broadcasts into the same codegen'd assignment
    * expression; recall at equal nProbe improves because probes now follow
    * the data's density rather than arbitrary sample points.
    */
  def trainCentroids(corpus: DataFrame, nCentroids: Int, iters: Int = 4,
                     sampleN: Int = 2048,
                     idCol: String = "vec_id", vecCol: String = "embedding"): Array[(Int, Seq[Double])] = {
    val sample = sampleVectors(corpus, sampleN, idCol, vecCol).map(normalize)
    require(sample.length >= nCentroids,
      s"need at least $nCentroids sample vectors, got ${sample.length}")
    val dim = sample.head.length
    var cents = sample.take(nCentroids).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](nCentroids, dim)
      val counts = new Array[Int](nCentroids)
      sample.foreach { v =>
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < nCentroids) {
          var dot = 0d
          var i = 0
          while (i < dim) { dot += cents(c)(i) * v(i); i += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else normalize(sums(c))
      }
      it += 1
    }
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
  }

  /** IVF top-k — the scale path for exhaustive-quality ANN: corpus vectors are
    * assigned to their nearest of `nCentroids` centroids (one scan with the
    * tiny centroid table broadcast as literals, fully codegen'd); a query
    * probes its `nProbe` nearest centroids and reranks exactly within them.
    * Scan fraction ≈ nProbe/nCentroids; on clustered data (the usual case for
    * real embeddings) recall concentrates in few probes. Centroids are
    * k-means trained over a bounded sample ([[trainCentroids]]); pass
    * `trainIters = 0` for the raw hash-ordered sample (the recall baseline
    * the spec compares against).
    */
  /** Centroid table: nCentroids × dim doubles — metadata-sized, broadcast as
    * literals into the assignment expression (no join, no shuffle).
    */
  private[scale] def centroidsFor(corpus: DataFrame, nCents: Int, trainIters: Int,
                                  idCol: String, vecCol: String): Array[(Int, Seq[Double])] =
    if (trainIters > 0)
      trainCentroids(corpus, nCents, trainIters, idCol = idCol, vecCol = vecCol)
    else
      sampleVectors(corpus, nCents, idCol, vecCol).map(normalize)
        .zipWithIndex.map { case (v, i) => (i, v.toSeq) }

  /** Top-n centroid ids by dot product (argmax cosine: |v| is constant per
    * row, centroids are unit-norm, so dot order == cosine order). Native
    * kernel ([[graft.expressions.NearestCentroids]]): one fused loop with
    * the centroid matrix shipped once per task as a reference object — the
    * HOF form below runs nCentroids interpreted folds per row and was the
    * whole cost of q31 (~3x end-to-end on the declared query).
    */
  private[scale] def nearestCidsExpr(cents: Array[(Int, Seq[Double])], vec: Column, topN: Int): Column = {
    val dim = cents.head._2.length
    // cents carry ids 0..n-1 in order (trainCentroids/centroidsFor build
    // them with zipWithIndex), so row-major flattening preserves id == row
    val flat = new Array[Double](cents.length * dim)
    cents.foreach { case (cid, cv) =>
      var i = 0
      cv.foreach { x => flat(cid * dim + i) = x; i += 1 }
    }
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.NearestCentroids(
        org.apache.spark.sql.GraftColumnBridge.expression(vec),
        flat, cents.length, dim, topN))
  }

  /** The composable reference form of [[nearestCidsExpr]] (interpreted HOF
    * lambdas) — kept for the spec parity law.
    */
  private[scale] def nearestCidsHof(cents: Array[(Int, Seq[Double])], vec: Column, topN: Int): Column = {
    val scored = array(cents.map { case (cid, cv) =>
      val dot = aggregate(zip_with(vec, typedLit(cv), (x, y) => x * y),
        lit(0d), (acc, v) => acc + v)
      struct(dot.as("sim"), lit(cid).as("cid"))
    }: _*)
    transform(slice(reverse(array_sort(scored)), 1, topN), s => s.getField("cid"))
  }

  /** nCentroids <= 0 resolves to ceil(sqrt(n)) — the standard IVF sizing:
    * cells hold ~sqrt(n) vectors, so probe cost per query is
    * nProbe·sqrt(n) and the scan fraction ≈ nProbe/sqrt(n) SHRINKS as the
    * corpus grows (fixed nCentroids=16/nProbe=8 was a half-corpus scan in
    * disguise — the round-3 finding this replaces).
    */
  def resolveNCentroids(corpus: DataFrame, nCentroids: Int): Int =
    if (nCentroids > 0) nCentroids
    else math.max(16, math.ceil(math.sqrt(corpus.count().toDouble)).toInt)

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = -1, nProbe: Int = 3, trainIters: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nCents = resolveNCentroids(corpus, nCentroids)
    val cents = centroidsFor(corpus, nCents, trainIters, idCol, vecCol)
    def nearestCids(vec: Column, topN: Int): Column = nearestCidsExpr(cents, vec, topN)
    val c = corpus.withColumn("cid",
        element_at(nearestCids(col(vecCol).cast("array<double>"), 1), 1))
      .select(col(idCol).as("nid"), col(vecCol).as("cv"), col("cid"))
    val q = broadcast(queries
      .withColumn("cid", explode(nearestCids(col(vecCol).cast("array<double>"), nProbe)))
      .select(col(idCol).as("qid"), col(vecCol).as("qv"), col("cid")))
    // each corpus vector lives in exactly one cluster and probe cids are
    // distinct, so (qid, nid) appears at most once — no dedup needed
    rankedTopK(c.join(q, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("cv")).as("sim")),
      k, "sim")
  }

  /** IVF pruning + int8 rerank — the combined ANN serving shape at scale:
    * candidates come from the query's `nProbe` cells (scan fraction ≈
    * nProbe/√n, shrinking with the corpus), and the rerank reads 1-byte
    * codes through the native integer MAC loop instead of 8-byte doubles —
    * 4× less rerank bandwidth, and the scores are exact integers. Same
    * output shape as [[quantizedTopK]]: (qid, rnk, nid, score); equals it
    * exactly under a full probe (SimilaritySpec law).
    */
  def ivfTopKQuantized(corpus: DataFrame, queries: DataFrame, k: Int,
                       nCentroids: Int = -1, nProbe: Int = 3, trainIters: Int = 4,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nCents = resolveNCentroids(corpus, nCentroids)
    val cents = centroidsFor(corpus, nCents, trainIters, idCol, vecCol)
    def nearestCids(vec: Column, topN: Int): Column = nearestCidsExpr(cents, vec, topN)
    val c = quantizeInt8(corpus, vecCol)
      .withColumn("cid", element_at(nearestCids(col(vecCol).cast("array<double>"), 1), 1))
      .select(col(idCol).as("nid"), col("qcode").as("cc"), col("cid"))
    val q = broadcast(quantizeInt8(queries, vecCol)
      .withColumn("cid", explode(nearestCids(col(vecCol).cast("array<double>"), nProbe)))
      .select(col(idCol).as("qid"), col("qcode").as("qc"), col("cid")))
    rankedTopK(c.join(q, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), int8Dot(col("qc"), col("cc")).as("score")),
      k, "score")
  }

  /** Distributed kNN JOIN — top-k `right` neighbors for EVERY `left` row,
    * with NEITHER side broadcast. Every other top-k form here broadcasts
    * the query side, which caps it at a driver-memory-sized query set; this
    * is the shape for "nearest neighbor of each of 10⁹ corpus vectors":
    * both sides co-partition by IVF cell (right assigned to its top cell,
    * left exploded to its nProbe cells) and the join is a plain shuffle
    * equi-join on cid — per-task work is cell-local, ~nProbe·√n candidates
    * per left row, and the shuffled relations carry int8 codes, not
    * doubles. No broadcast() hint is baked in: Catalyst/AQE may still
    * broadcast a genuinely small side, but the plan survives
    * autoBroadcastJoinThreshold=-1 (PlanSpec law), which the broadcast
    * forms cannot. Cell skew lands on AQE's skew-join splitting; the
    * bounded-heap prune then caps the rank shuffle at partitions × |left|
    * × k rows. Output: (qid, rnk, nid, score), the [[quantizedTopK]]
    * shape, approximate with the same probe semantics as
    * [[ivfTopKQuantized]].
    */
  def knnJoinQuantized(left: DataFrame, right: DataFrame, k: Int,
                       nCentroids: Int = -1, nProbe: Int = 3, trainIters: Int = 4,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireNumericId(left, idCol, "knnJoinQuantized")
    requireNumericId(right, idCol, "knnJoinQuantized")
    val nCents = resolveNCentroids(right, nCentroids)
    val cents = centroidsFor(right, nCents, trainIters, idCol, vecCol)
    val c = quantizeInt8(right, vecCol)
      .withColumn("cid", element_at(
        nearestCidsExpr(cents, col(vecCol).cast("array<double>"), 1), 1))
      .select(col(idCol).cast("long").as("nid"), col("qcode").as("cc"), col("cid"))
    val q = quantizeInt8(left, vecCol)
      .withColumn("cid", explode(
        nearestCidsExpr(cents, col(vecCol).cast("array<double>"), math.min(nProbe, nCents))))
      .select(col(idCol).cast("long").as("qid"), col("qcode").as("qc"), col("cid"))
    val scored = c.join(q, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), int8Dot(col("qc"), col("cc")).as("score"))
    longScoreTopK(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs via multi-table bucket collision
    * (both sides the corpus): candidates from a shared hyperplane bucket in
    * ANY of `tables` independent tables, verified by exact cosine >=
    * threshold. One side is multi-probed with single-bit flips, so per table
    * a pair is captured when its sign bits differ in <= 1 of `planes`
    * positions; L tables lift recall to 1-(miss_1)^L (for sim 0.95 pairs,
    * flip prob ≈ arccos(.95)/π ≈ 0.1: miss_1 ≈ 0.19 at planes=8, 4 tables
    * → ≈ 1.3e-3 miss — vs 19% for the single-table form).
    *
    * Scale bounds (the two knobs that keep this sane at 10⁹ vectors):
    *  - `planes` grows with the corpus (auto: log₂(n/64), so ~64 expected
    *    members per bucket) — a fixed plane count would concentrate the
    *    corpus into a constant number of bucket values;
    *  - buckets over `maxBucket` members star-link to the bucket's min-id
    *    representative (m-1 rows, not m²/2) exactly like
    *    [[graft.scale.Dedup.minhashCandidates]]; probes never join into a
    *    hot bucket. Star links keep verify-passing members connected through
    *    the representative; member↔member pairs whose BOTH endpoints are far
    *    from the representative can be lost — the cap trades that tail for
    *    a hard fan-out bound, and transitive grouping downstream
    *    ([[graft.scale.Cluster.connectedComponents]]) re-links anything
    *    that still shares a cold bucket elsewhere.
    */
  def cosineNearDup(corpus: DataFrame, threshold: Double, planes: Int = -1, dim: Int = -1,
                    tables: Int = 4, maxBucket: Int = 100, seed: Long = 42,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val d = resolveDim(corpus, vecCol, dim)
    val nPlanes =
      if (planes > 0) planes
      else {
        val n = corpus.count()
        math.max(8, math.ceil(math.log(math.max(n, 64L) / 64.0) / math.log(2)).toInt)
      }
    // Narrow collision relation — (id, tid, bucket) longs only; the probe
    // explode multiplies rows by tables*(planes+1), which must not multiply
    // vector bytes through the shuffle. Vectors re-join by id at the end.
    // Table `tables` is the IDENTITY pseudo-table (bucket = hash of the
    // whole vector): identical embeddings — the exact-dup fast path — are
    // candidates by construction, never by bucket luck or by surviving a
    // hot-bucket star-link through a third doc (the round-4 finding). It
    // rides the same (tid, bucket) shuffle; bit-flip probes skip it (a
    // flipped exact hash means nothing).
    val allBuckets = array(((0 until tables).map(t =>
      struct(lit(t).as("tid"), bucketExpr(nPlanes, d, seed + t, vecCol).as("bucket"))) :+
      struct(lit(tables).as("tid"), xxhash64(col(vecCol)).as("bucket"))): _*)
    val base = corpus
      .select(col(idCol), explode(allBuckets).as("tb"))
      .select(col(idCol), col("tb.tid").as("tid"), col("tb.bucket").as("bucket"))
    // Hot-bucket bound on the BASE relation: members of a bucket over
    // maxBucket star-link to its min-id representative and leave the
    // pairwise join entirely (probes equi-join against cold buckets only,
    // so a probe flipping into a hot bucket contributes nothing).
    val w = Window.partitionBy("tid", "bucket")
    val sized = base
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__rep", min(col(idCol)).over(w))
    val cold = sized.filter(col("__n") <= maxBucket).select(col(idCol), col("tid"), col("bucket"))
    val hotPairs = sized.filter(col("__n") > maxBucket && col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"))
    val probed = cold.withColumn("bucket", explode(
      when(col("tid") < tables, concat(
        array(col("bucket")),
        array((0 until nPlanes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)))
        .otherwise(array(col("bucket")))))
    val coldPairs = probed.as("a").join(cold.as("b"),
        col("a.tid") === col("b.tid") && col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
    val pairs = coldPairs.unionByName(hotPairs).distinct()
    val va = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val vb = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  // ---- declared queries ----------------------------------------------------

  val queries: Seq[Q] = Seq(

    // Brute-force cosine top-10 for 5 probe vectors. Output is ids+rank only
    // (both engines accumulate the dot product sequentially in double, so the
    // ranking is identical; emitting the float sim itself would hash-compare
    // raw doubles, which also works but adds no coverage).
    Q("q30_knn_cosine",
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        | c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        | scored AS (
        |   SELECT qid, nid,
        |     list_dot_product(qv, cv) /
        |       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |   FROM q, c WHERE qid <> nid),
        | ranked AS (SELECT qid, nid,
        |   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM scored)
        |SELECT qid, rnk, nid FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
      // the partial form: per-partition bounded heaps shrink the shuffle to
      // partitions x |queries| x k rows — the plan that survives a large corpus
      val emb = Tables.embeddings(s, d)
      bruteForceTopKPartial(emb, emb.filter(col("vec_id") < 5), 10)
        .select("qid", "rnk", "nid")
        .orderBy("qid", "rnk")
    },

    // IVF ANN with a driver-checkable invariant: each query vector gets a
    // planted near-identical twin (same +0.02f perturbation as q32) under
    // qid+100000; the twin is the UNIQUE true nearest neighbor (sim ≈ 0.99
    // vs ≤ 0.52 for every random pair at any tested SF), so the oracle
    // computes rank-1 exactly by brute force while the engine must reach it
    // through the probed cells (the twin's nearest centroid is by
    // construction inside the query's nProbe set). Auto parameters:
    // nCentroids = ceil(sqrt(n)), nProbe = 3 → ~13% scan fraction here,
    // shrinking as 3/sqrt(n) at scale. Recall/scan tradeoffs beyond rank-1
    // are SimilaritySpec territory (the full top-k is approximate by
    // construction and belongs to no oracle).
    Q("q31_knn_ann",
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        | c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        |       UNION ALL
        |       SELECT vec_id + 100000,
        |         CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[])
        |       FROM embeddings WHERE vec_id < 5),
        | scored AS (
        |   SELECT qid, nid,
        |     list_dot_product(qv, cv) /
        |       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |   FROM q, c WHERE qid <> nid),
        | ranked AS (SELECT qid, nid, round(sim, 4) AS sim,
        |   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM scored)
        |SELECT qid, nid, sim FROM ranked WHERE rnk = 1 ORDER BY qid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 5)
      val twins = queries
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      ivfTopK(emb.unionByName(twins), queries, k = 1)
        .filter(col("rnk") === 1)
        .select(col("qid"), col("nid"), round(col("sim"), 4).as("sim"))
        .orderBy("qid")
    },

    // Embedding near-dup pairs above a cosine threshold, driver-certified on
    // the deterministically-captured planted subset: every 10th vector is
    // re-added as an EXACT copy under vec_id+100000, and identical embeddings
    // are candidates by construction (cosineNearDup's identity pseudo-table:
    // the whole-vector hash banded in as an extra bucket) — not by bucket luck. The full pipeline (multi-table
    // probed LSH + exact rerank) still runs; its output is filtered to the
    // planted id shape so a chance near-pair the re-rolled corpus of some
    // future SF might contain cannot produce a phantom row against the
    // enumerable oracle. The earlier form planted PERTURBED clones and
    // demanded 100% LSH recall from a brute-force oracle — correct at every
    // tested SF but probabilistic by construction (~1.3e-3 per-pair miss):
    // the round-4 finding this replaces. Perturbed-clone recall (the
    // genuinely probabilistic part) is certified in SimilaritySpec, where
    // the corpus is controlled. cosine(v, v) = dot/(sqrt·sqrt) lands within
    // 1 ulp of 1.0 in both engines, so round(.., 4) compares exactly.
    Q("q32_embedding_neardup",
      """SELECT vec_id AS id_a, vec_id + 100000 AS id_b,
        | CAST(1.0 AS DOUBLE) AS sim
        |FROM embeddings WHERE vec_id % 10 = 0 ORDER BY id_a""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val clones = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
      cosineNearDup(emb.unionByName(clones), threshold = 0.95)
        .filter(col("id_b") - col("id_a") === 100000 &&
          col("id_a") % 10 === 0 && col("id_a") < 100000)
        .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
        .orderBy("id_a", "id_b")
    },

    // int8-quantized brute-force top-10: scores are exact integer dot
    // products over the per-vector-scaled codes, so ranks AND scores
    // hash-compare exactly — the quantization arithmetic (widen, divide,
    // multiply, round half-away-from-zero) is IEEE-identical on both
    // engines. The engine runs the bounded-heap partial form; the oracle
    // replays the semantics by brute force.
    // All-pairs serving shape: the nearest neighbor of EVERY corpus vector
    // through the no-broadcast kNN join — every 10th vector gets a
    // near-identical twin under id+100000, and each planted source must
    // surface its twin at rank 1 with the query side being the whole
    // corpus (2000+ rows at sf0.1 — a query set the broadcast forms would
    // happily ship, but the join here co-partitions by cell instead, the
    // plan that still works when "left" is a billion rows). Output filtered
    // to the planted sources so the oracle is enumerable; scores are the
    // exact BIGINT quantized dots, replayed by brute force.
    Q("q94_knn_join",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | corp AS (SELECT vec_id, v FROM base
        |          UNION ALL
        |          SELECT vec_id + 100000,
        |            CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings WHERE vec_id % 10 = 0),
        | qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) AS smax FROM corp)),
        | q AS (SELECT vec_id AS qid, code AS qc FROM qz
        |       WHERE vec_id % 10 = 0 AND vec_id < 100000),
        | c AS (SELECT vec_id AS nid, code AS cc FROM qz),
        | scored AS (
        |   SELECT qid, nid, CAST(list_dot_product(qc, cc) AS BIGINT) AS score
        |   FROM q, c WHERE qid <> nid),
        | ranked AS (SELECT qid, nid, score,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
        |   FROM scored)
        |SELECT qid, nid, score FROM ranked WHERE rnk = 1 ORDER BY qid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val twins = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      val corpus = emb.unionByName(twins).localCheckpoint()
      knnJoinQuantized(corpus, corpus, k = 1)
        .filter(col("rnk") === 1 && col("qid") % 10 === 0 && col("qid") < 100000)
        .select("qid", "nid", "score")
        .orderBy("qid")
    },

    // The q94 join under a PLANTED HOT CELL — the layout a real corpus has
    // (boilerplate embeddings, near-constant vectors): every even id is
    // COLLAPSED onto one point (x·0.001 + 3.0, FLOAT ops the oracle replays
    // bit-exactly). Collapse, not a loose shift, is what defeats k-means'
    // mass balancing: a cluster with radius gets split across as many
    // centroids as its mass deserves, but identical vectors tie on distance
    // to every centroid k-means drops on them and the argmin's first-index
    // tie-break routes ALL of them to one cid. HALF the corpus thus lands
    // in a single IVF cell
    // and the candidate join's cid shuffle gets one partition ~nCells times
    // the median. Correctness must be layout-independent, so the join runs
    // FULL-PROBE: every query scans every cell, making the answer exactly
    // the quantized brute force independent of where k-means dropped its
    // centroids on this deliberately degenerate corpus (nProbe=3 at sf0.1
    // really did lose one twin to a shifted cell boundary — the
    // approximation dial and the skew dial must not be entangled in a
    // hash-gated query). Each odd planted source surfaces its near-identical
    // twin at rank 1 with exact BIGINT scores, replayed by brute force. The
    // AQE skew-split plan law (the hot partition really is split at
    // runtime) is SimilaritySpec territory; here the driver pins that skew
    // never changes answers.
    Q("q105_knn_skew",
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
        | corp AS (
        |   SELECT vec_id,
        |     CASE WHEN vec_id % 2 = 0
        |       THEN CAST(list_transform(embedding,
        |              x -> x * CAST(0.001 AS FLOAT) + CAST(3.0 AS FLOAT)) AS DOUBLE[])
        |       ELSE CAST(embedding AS DOUBLE[]) END AS v
        |   FROM base
        |   UNION ALL
        |   SELECT vec_id + 100000,
        |     CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[])
        |   FROM base WHERE vec_id % 10 = 1),
        | qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) AS smax FROM corp)),
        | q AS (SELECT vec_id AS qid, code AS qc FROM qz
        |       WHERE vec_id % 10 = 1 AND vec_id < 100000),
        | c AS (SELECT vec_id AS nid, code AS cc FROM qz),
        | scored AS (
        |   SELECT qid, nid, CAST(list_dot_product(qc, cc) AS BIGINT) AS score
        |   FROM q, c WHERE qid <> nid),
        | ranked AS (SELECT qid, nid, score,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
        |   FROM scored)
        |SELECT qid, nid, score FROM ranked WHERE rnk = 1 ORDER BY qid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val skewed = emb.withColumn("embedding",
        when(col("vec_id") % 2 === 0,
          transform(col("embedding"), x => x * lit(0.001f) + lit(3.0f))
            .cast("array<float>"))
          .otherwise(col("embedding")))
      val twins = emb.filter(col("vec_id") % 10 === 1)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      val corpus = skewed.unionByName(twins).localCheckpoint()
      knnJoinQuantized(corpus, corpus, k = 1, nProbe = Int.MaxValue)
        .filter(col("rnk") === 1 && col("qid") % 10 === 1 && col("qid") < 100000)
        .select("qid", "nid", "score")
        .orderBy("qid")
    },

    Q("q83_knn_quantized",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) AS smax FROM e)),
        | q AS (SELECT vec_id AS qid, code AS qc FROM qz WHERE vec_id < 5),
        | c AS (SELECT vec_id AS nid, code AS cc FROM qz),
        | scored AS (
        |   SELECT qid, nid, CAST(list_dot_product(qc, cc) AS BIGINT) AS score
        |   FROM q, c WHERE qid <> nid),
        | ranked AS (SELECT qid, nid, score,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
        |   FROM scored)
        |SELECT qid, rnk, nid, score FROM ranked WHERE rnk <= 10
        |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      quantizedTopK(emb, emb.filter(col("vec_id") < 5), 10)
        .orderBy("qid", "rnk")
    },

    // Per-language centroid sufficient statistics through the native vector
    // aggregate: the oracle recomputes every element-wise sum by exploding
    // to (lang, pos, elem) and reassembling ordered lists — one transposed
    // element or a single off-by-one code hash-fails. Integer sums of int8
    // codes are associative, so the engine's answer is partitioning-
    // independent where a float mean would not be.
    Q("q112_lang_centroid",
      """WITH qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS smax
        |        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings))),
        | j AS (SELECT d.lang, q.code FROM qz q JOIN documents d ON d.doc_id = q.vec_id),
        | e AS (SELECT lang, generate_subscripts(code, 1) AS pos,
        |              unnest(code) AS elem FROM j),
        | s AS (SELECT lang, pos, CAST(sum(elem) AS BIGINT) AS code_sum
        |       FROM e GROUP BY 1, 2),
        | c AS (SELECT lang, count(1) AS n_vecs FROM j GROUP BY 1)
        |SELECT s.lang, c.n_vecs, CAST(s.pos AS BIGINT) AS pos, s.code_sum
        |FROM s JOIN c ON s.lang = c.lang
        |ORDER BY s.lang, s.pos""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val langs = Tables.documents(s, d)
        .select(col("doc_id").as("vec_id"), col("lang"))
      val codes = quantizeInt8(emb).select(col("vec_id"), col("qcode"))
      // the aggregate's one long[dim] per lang explodes to rows only for the
      // driver's scalar-celled compare — the stored/served form is the array
      groupedCodeSums(codes.join(langs, "vec_id"), "lang")
        .select(col("lang"), col("n_vecs"),
          posexplode(col("code_sum")).as(Seq("pos0", "code_sum")))
        .select(col("lang"), col("n_vecs"),
          (col("pos0") + 1).cast("long").as("pos"), col("code_sum"))
        .orderBy("lang", "pos")
    },

    // Semi-hard negative mining under the q94 twin fixture: each planted
    // anchor's positive is its near-identical twin (pos_score ≈ the
    // anchor's own norm), and the mined negatives are the organic vectors
    // within the 3/4 relative margin — strictly below the positive (score
    // ties, i.e. duplicates, excluded as false negatives) but close enough
    // to carry gradient. The oracle replays quantization, the panel's
    // positive scores, the margin predicate, and the ranked cut as exact
    // BIGINT arithmetic, so a wrong margin comparison, a leaked self/
    // positive row, or a heap-order divergence all fail the hash.
    Q("q282_hard_negatives",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | corp AS (SELECT vec_id, v FROM base
        |          UNION ALL
        |          SELECT vec_id + 100000,
        |            CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings WHERE vec_id % 10 = 0),
        | qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) AS smax FROM corp)),
        | lab AS (SELECT vec_id AS qid, vec_id + 100000 AS pos_id
        |         FROM embeddings WHERE vec_id % 10 = 0),
        | pan AS (SELECT * FROM (
        |   SELECT l.qid, l.pos_id, q.code AS qc,
        |     CAST(list_dot_product(q.code, p.code) AS BIGINT) AS pos_score
        |   FROM lab l JOIN qz q ON q.vec_id = l.qid JOIN qz p ON p.vec_id = l.pos_id)
        |  WHERE pos_score > 0),
        | sh AS (SELECT * FROM (
        |   SELECT pan.qid, pan.pos_id, pan.pos_score, c.vec_id AS neg_id,
        |     CAST(list_dot_product(pan.qc, c.code) AS BIGINT) AS score
        |   FROM pan JOIN qz c ON c.vec_id <> pan.qid AND c.vec_id <> pan.pos_id)
        |  WHERE score < pos_score AND (pos_score - score) * 4 <= pos_score * 3),
        | rk AS (SELECT qid, pos_id, neg_id, score, pos_score - score AS gap,
        |   CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, neg_id)
        |        AS BIGINT) AS neg_rank
        |  FROM sh)
        |SELECT qid, pos_id, neg_rank, neg_id, score, gap FROM rk
        |WHERE neg_rank <= 5 ORDER BY qid, neg_rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val twins = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      val corpus = emb.unionByName(twins)
      val labels = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), (col("vec_id") + 100000).as("pos_id"))
      semiHardNegatives(corpus, labels, k = 5, marginNum = 3, marginDen = 4)
        .orderBy("qid", "neg_rank")
    },

    // Semantic eval decontamination: the eval panel is the +0.02 twin of
    // every 10th corpus vector, so exactly those corpus docs sit at
    // quantized cosine ≈ 0.99 against SOME eval vector while the best
    // organic pair reads ~0.45 — the 3/4 threshold must drop precisely
    // the twinned tenth. The oracle replays quantization, both
    // self-energies, and the squared-cosine comparison as exact BIGINTs;
    // a float sqrt anywhere would drift a boundary doc and hash-fail.
    Q("q287_semantic_decontam",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | ev AS (SELECT vec_id + 100000 AS vec_id,
        |          CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[]) AS v
        |        FROM embeddings WHERE vec_id % 10 = 0),
        | cz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS smax
        |        FROM base)),
        | ez AS (
        |  SELECT vec_id AS eid,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS smax
        |        FROM ev)),
        | fl AS (
        |  SELECT c.vec_id, count(1) AS n_flagged
        |  FROM cz c JOIN ez e ON
        |    CAST(list_dot_product(c.code, e.code) AS BIGINT) > 0
        |    AND CAST(list_dot_product(c.code, e.code) AS BIGINT)
        |        * CAST(list_dot_product(c.code, e.code) AS BIGINT) * 16
        |      >= 9 * CAST(list_dot_product(c.code, c.code) AS BIGINT)
        |           * CAST(list_dot_product(e.code, e.code) AS BIGINT)
        |  GROUP BY 1)
        |SELECT b.vec_id, CAST(coalesce(f.n_flagged, 0) AS BIGINT) AS n_flagged,
        |  CAST(CASE WHEN coalesce(f.n_flagged, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS dropped
        |FROM base b LEFT JOIN fl f USING (vec_id)
        |ORDER BY b.vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val evalVecs = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      semanticDecontaminate(emb, evalVecs).orderBy("vec_id")
    },
  )
}
