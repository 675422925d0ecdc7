package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`Array[Float]`).
  * Brute-force cosine is the exactness baseline (broadcast the query
  * side — the corpus side never shuffles); random-hyperplane LSH is the
  * scale path (bucket join, probes only its own bucket).
  */
object Similarity {

  /** Cosine similarity between two float-array columns, computed in
    * double via built-in higher-order functions (codegen'd, no UDF). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    dot / (na * nb)
  }

  /** Exact cosine of two float vectors, arithmetic-identical to
    * [[cosine]]: the same left folds (0.0 seed, one double product per
    * element, dot and both norms accumulated in element order), one
    * sqrt each, one division. Vectors of different lengths, or a null,
    * give NaN — zip_with's null-extension poisoning — so every `>=` or
    * `<` test on the result rejects the pair instead of failing the
    * task. Zero vectors give 0/0 = NaN as well. The HOF form dispatches
    * a boxed lambda per element (~µs/pair at dim 64), which dominates
    * any pair pass; every pair kernel here calls this loop instead. */
  private[ops] def cosineOf(a: Array[Float], b: Array[Float]): Double = {
    if (a == null || b == null || a.length != b.length) return Double.NaN
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The norm fold of [[cosineOf]], for the brute-force scans that keep
    * it precomputed per vector and pay one [[dot]] per pair. */
  @inline private def norm(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** The dot fold of [[cosineOf]]; the caller checks that the lengths
    * match. */
  @inline private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var d = 0
    while (d < a.length) { s += a(d).toDouble * b(d).toDouble; d += 1 }
    s
  }

  /** The score with which [[topCandidates]] skips a pair. Cosines are
    * finite or NaN and the quantized scores finite, so no real score is
    * lost. */
  private val NoCandidate = Double.NegativeInfinity

  /** (score ASC, id DESC): the head of a min-heap under this order is
    * its worst candidate, the lowest score and, among equal scores, the
    * larger id. */
  private object WorstFirst extends java.util.Comparator[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(b._2, a._2)
    }
  }

  /** Bounded top-`c` candidate scan, the first stage of the brute-force
    * and quantized ANN operators. The queries are broadcast and the
    * corpus streams once, never shuffled: each partition keeps one
    * min-heap of at most `c` (score, id) per query under [[WorstFirst]],
    * so evicting the head drops the worst candidate and equal scores
    * keep the SMALLER id. A partition's survivors are then its prefix of
    * the global (score DESC, id ASC) order, their union contains the
    * global top `c` wherever the partition cuts fall, and [[rankCut]]
    * cuts it exactly: ties at the boundary cannot make the result
    * depend on the partitioning. A query is never scored against its
    * own id.
    *
    * `scorer` takes the broadcast queries once per partition (where
    * per-partition tables such as PQ's ADC lookups are built), then each
    * corpus row once (per-row work such as a norm), and returns the
    * row's score against query index `qi`; [[NoCandidate]] skips the
    * pair. Only the (query_id, neighbor_id, score) candidates, at most
    * `c` per query per partition, reach the rank shuffle. */
  private[ops] def topCandidates[Q, R](corpus: Dataset[(Long, R)],
                                       queries: Array[(Long, Q)], c: Int)(
      scorer: Array[(Long, Q)] => R => Int => Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qB = spark.sparkContext.broadcast(queries)
    corpus.mapPartitions { rows =>
      val qs = qB.value
      val rowScorer = scorer(qs)
      val best = Array.fill(qs.length)(
        new java.util.PriorityQueue[(Double, Long)](c + 1, WorstFirst))
      rows.foreach { case (id, r) =>
        val score = rowScorer(r)
        var qi = 0
        while (qi < qs.length) {
          if (qs(qi)._1 != id) {
            val s = score(qi)
            if (s != NoCandidate) {
              val h = best(qi)
              h.add((s, id))
              if (h.size() > c) h.poll()
            }
          }
          qi += 1
        }
      }
      best.iterator.zipWithIndex.flatMap { case (h, qi) =>
        val qid = qs(qi)._1
        Iterator.continually(h.poll()).takeWhile(_ != null)
          .map { case (s, id) => (qid, id, s) }
      }
    }.toDF("query_id", "neighbor_id", "score")
  }

  /** The per-query rank cut: number the (query_id, neighbor_id, score)
    * rows of each query by (score DESC, neighbor_id ASC), the order
    * every operator in this family ranks by, and keep `rank` ≤ `n`.
    * `rank` is the INT row number. */
  private[ops] def rankCut(cand: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= n)
  }

  /** Exact re-rank of a candidate cut: join both embeddings back to the
    * (query_id, neighbor_id) pairs of `cut`, score each with [[cosine]]
    * (the ordered element fold the oracle replays bit for bit) and cut
    * to `k`. The cut is |queries|·C rows, broadcast-sized by
    * construction. Output (query_id, neighbor_id, rank BIGINT). */
  private[ops] def rerank(cut: DataFrame, corpus: DataFrame, queries: DataFrame,
                          k: Int): DataFrame = {
    val scored = cut.select(col("query_id"), col("neighbor_id"))
      .join(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb")), Seq("query_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("n_emb")).as("score"))
    rankCut(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** Exact top-k neighbors for each query vector (brute force): the
    * [[topCandidates]] scan with exact cosine (norms precomputed per
    * vector, one dot per pair; vectors of different lengths are no
    * candidates), then the [[rankCut]] to k. (A crossJoin +
    * higher-order-function cosine evaluates boxed lambdas per element —
    * benched 10x slower.) */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qs = queries.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id, (v, norm(v))) }
    val vecs = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    val cand = topCandidates(vecs, qs, k) { qp => v =>
      val nv = norm(v)
      qi => {
        val (qv, qn) = qp(qi)._2
        if (qv.length != v.length) NoCandidate else dot(qv, v) / (qn * nv)
      }
    }
    rankCut(cand, k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1). */
  @inline private def hyperplane(seed: Long, bit: Int, d: Int): Double = {
    var z = seed + bit.toLong * 0x9e3779b97f4a7c15L + d.toLong * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    z.toDouble / Long.MaxValue.toDouble
  }

  /** `n` deterministic directions of length `dim`, flat [row][d]: row r
    * is the [[hyperplane]] stream of `seedBit(r)`. The signature, cell
    * and pivot kernels materialize theirs ONCE per partition and vector
    * length: the mix is ~6 int ops per component vs 2 flops for the
    * mult-add it feeds, so recomputing it per row made the hash the
    * bulk of the kernel. The components, and every left-to-right double
    * fold over them, are those of the per-row formulation, so
    * signatures, cells and buckets stay bit-identical to the oracles. */
  private def directions(n: Int, dim: Int)(seedBit: Int => (Long, Int)): Array[Double] = {
    val m = new Array[Double](n * dim)
    var r = 0
    while (r < n) {
      val (seed, bit) = seedBit(r)
      var d = 0
      while (d < dim) { m(r * dim + d) = hyperplane(seed, bit, d); d += 1 }
      r += 1
    }
    m
  }

  /** sqrt(Σ h²) of each of the `n` rows of a flat [row][d] matrix,
    * folded in d order. */
  private def rowNorms(m: Array[Double], n: Int, dim: Int): Array[Double] =
    Array.tabulate(n) { r =>
      var s = 0.0
      var d = 0
      while (d < dim) { val h = m(r * dim + d); s += h * h; d += 1 }
      math.sqrt(s)
    }

  /** v · the matrix row starting at `base`, the left fold of [[dot]]. */
  @inline private def rowDot(v: Array[Float], m: Array[Double], base: Int): Double = {
    var s = 0.0
    var d = 0
    while (d < v.length) { s += v(d).toDouble * m(base + d); d += 1 }
    s
  }

  /** Random-hyperplane signatures per table, one typed pass: bit i =
    * sign(v · r_i). (The column-expression formulation expanded to a
    * nBits×dim×nTables element_at tree — thousands of nodes per row —
    * and benched 90+ s on 2k vectors; per-row numeric loops are the
    * documented mapPartitions case.) */
  def lshSignatures(df: DataFrame, idCol: String, nBits: Int,
                    nTables: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        // [[directions]] [t][bit][d], sized lazily off the row's dim
        var hp: Array[Double] = null
        var dim = -1
        rows.flatMap { case (id, v) =>
          if (v.length != dim) {
            dim = v.length
            hp = directions(nTables * nBits, dim)(r =>
              (42L + (r / nBits) * 1000003L, r % nBits))
          }
          val m = hp
          (0 until nTables).map { t =>
            var sig = 0
            var bit = 0
            var base = t * nBits * dim
            while (bit < nBits) {
              if (rowDot(v, m, base) >= 0) sig |= (1 << bit)
              bit += 1
              base += dim
            }
            (id, t, sig, v)
          }
        }
      }.toDF(idCol, "table", "sig", "embedding")
  }

  /** LSH-bucketed ANN: both sides signed with the same hyperplanes;
    * candidates share a bucket (multi-probe via nTables different
    * seeds); exact cosine re-rank inside the candidate set only. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nBits: Int = 12, nTables: Int = 4): DataFrame = {
    def signed(df: DataFrame, idCol: String): DataFrame =
      lshSignatures(df, idCol, nBits, nTables)
    val c = signed(corpus, "vec_id")
      .withColumnRenamed("vec_id", "neighbor_id")
      .withColumnRenamed("embedding", "c_emb")
    val q = signed(queries, "vec_id")
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("embedding", "q_emb")
    val cand = c.join(broadcast(q), Seq("table", "sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cos"))
      .groupBy(col("query_id"), col("neighbor_id")).agg(max(col("cos")).as("score"))
    rankCut(cand, k).select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** IVF-style coarse quantization: score every vector against `nCells`
    * deterministic centroid directions (drawn from the same splitmix64
    * component stream as the LSH hyperplanes, disjoint seed base) and
    * keep the `take` best cells per vector ordered by (cosine desc,
    * cell asc). `take = 1` is the corpus-side inverted-list assignment;
    * `take = nProbe` is the query-side probe list. A trained k-means
    * codebook would adapt to the data, but training is a separate
    * (non-deterministic) job; fixed random directions keep the whole
    * pipeline reproducible and oracle-checkable while preserving the
    * IVF *shape* — each corpus vector lands in exactly one list, and a
    * query touches only nProbe/nCells of the corpus.
    *
    * Same bit-exactness discipline as [[lshSignatures]]: the centroid
    * matrix is materialized once per partition, all dot/norm
    * accumulations are left-to-right doubles, and ties in the cell
    * ranking break to the lower cell index — so the DuckDB oracle
    * ([[EmbeddingOracle.ivfSql]]) reproduces every assignment. */
  def ivfCells(df: DataFrame, idCol: String, nCells: Int, take: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        var cm: Array[Double] = null   // [[directions]] [cell][d]
        var cn: Array[Double] = null   // their norms
        var dim = -1
        rows.flatMap { case (id, v) =>
          if (v.length != dim) {
            dim = v.length
            cm = directions(nCells, dim)(c => (1299709L + c * 7919L, 0))
            cn = rowNorms(cm, nCells, dim)
          }
          val vn = norm(v)
          val cos = new Array[Double](nCells)
          var c = 0
          while (c < nCells) {
            cos(c) = rowDot(v, cm, c * dim) / (vn * cn(c))
            c += 1
          }
          // top-`take` cells by (cos desc, cell asc): strictly-greater
          // argmax keeps the lowest cell on ties — matches the oracle's
          // ranking ORDER BY cos DESC, cell ASC
          val used = new Array[Boolean](nCells)
          (0 until math.min(take, nCells)).map { _ =>
            var best = -1
            var bestCos = Double.NegativeInfinity
            var i = 0
            while (i < nCells) {
              if (!used(i) && cos(i) > bestCos) { best = i; bestCos = cos(i) }
              i += 1
            }
            used(best) = true
            (id, best, v)
          }
        }
      }.toDF(idCol, "cell", "embedding")
  }

  /** IVF-bucketed ANN: corpus vectors live in exactly one inverted
    * list ([[ivfCells]] take=1 — never shuffled, never broadcast);
    * each query probes its `nProbe` nearest cells; exact cosine
    * re-ranks inside the probed lists only. Complements [[lshTopK]]
    * (multi-table hash buckets) with the other classic ANN scale
    * shape: candidate volume is a tunable nProbe/nCells fraction of
    * the corpus per query instead of a hash-collision census, so
    * recall degrades gracefully (nProbe = nCells ≡ brute force). Only
    * the (query_id, neighbor_id, cos) candidate triples — 24 bytes
    * each — reach the final rank shuffle. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val c = ivfCells(corpus, "vec_id", nCells, take = 1)
      .withColumnRenamed("vec_id", "neighbor_id")
      .withColumnRenamed("embedding", "c_emb")
    val q = ivfCells(queries, "vec_id", nCells, take = nProbe)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("embedding", "q_emb")
    // corpus cells are disjoint and probe cells distinct per query, so
    // each (query, neighbor) pair arises at most once — no dedup needed
    val cand = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("score"))
    rankCut(cand, k).select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Embedding near-duplicate pairs at scale: random-hyperplane LSH
    * buckets generate candidates (sub-quadratic, bucket equi-join —
    * nothing is collected or broadcast whole), then EXACT cosine
    * re-checks each candidate, so precision is 1.0. Recall per true
    * pair at cosine c is 1-(1-(1-θ/π)^nBits)^nTables with θ=acos(c):
    * ≈1.0 for real near-dups (c ≥ 0.9) at the defaults; tune
    * nBits↓/nTables↑ for looser thresholds. The (table, sig) buckets
    * pair through [[Dedup.bucketPairs]] under `bucketCap`. The brute-force
    * `nearDupPairs` below stays as the small-scale exactness oracle. */
  def nearDupPairsLsh(corpus: DataFrame, threshold: Double,
                      nBits: Int = 6, nTables: Int = 24,
                      bucketCap: Int = 2000): DataFrame = {
    // drop vectors: shuffle ids only
    val sigs = lshSignatures(corpus, "vec_id", nBits, nTables)
      .select(col("table"), col("sig"), col("vec_id").as("id"), lit(true).as("is_new"))
    val cand = Dedup.bucketPairs(sigs, Seq("table", "sig"), bucketCap)
    val emb = corpus.select(col("vec_id").cast("long"), col("embedding"))
    val joined = cand
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")), "b_id")
      .select(col("a_id"), col("b_id"), col("a_emb"), col("b_emb"))
    cosineThresholdPairs(joined, threshold)
  }

  /** Exact-cosine filter over (a_id, b_id, a_emb, b_emb) rows through
    * the [[cosineOf]] kernel: the HOF-expression `cosine` evaluates
    * boxed lambdas per element, which benched ~25x slower on millions
    * of candidate pairs. Same fold order, so threshold decisions are
    * bit-identical. */
  private def cosineThresholdPairs(joined: DataFrame, threshold: Double): DataFrame = {
    val spark = joined.sparkSession
    import spark.implicits._
    joined.as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions(_.collect {
        case (aId, bId, av, bv) if cosineOf(av, bv) >= threshold => (aId, bId)
      })
      .toDF("a_id", "b_id")
  }

  /** Distributed EXACT near-dup pairs with a lossless metric-space
    * prune — the scale shape for the exactness row (round 2 used a
    * full-corpus broadcast-nested-loop join, which OOMs executors once
    * the table outgrows them).
    *
    * Math: cosine is scale-invariant, so bucketing by vector norm
    * prunes nothing. Instead map each vector to the unit sphere, where
    * cos(a,b) ≥ t ⟺ the Euclidean distance of the NORMALIZED vectors
    * ‖â−b̂‖ ≤ D = √(2−2t). For any pivot p (a fixed unit vector), the
    * triangle inequality gives |d(â,p) − d(b̂,p)| ≤ d(â,b̂) ≤ D, so
    * bucketing by ⌊d(·,p)/D⌋ means a qualifying pair differs by AT MOST
    * 1 in every pivot's bucket index — candidate generation is
    * LOSSLESS. Pivot 0 drives the shuffle equi-join (probe side
    * explodes to {b−1,b,b+1}: 3 copies of 8-byte keys, not 3 copies of
    * the data — ids+buckets only); the remaining pivots prune as cheap
    * post-join predicates; exact cosine (identical kernel and
    * accumulation order as before, on the RAW vectors) decides each
    * surviving candidate, so output is bit-identical to the brute
    * force. Pruning power grows with the threshold (D=0.45 at t=0.9 vs
    * D=1.05 at the loose oracle t=0.45); at any threshold the plan is a
    * shuffle hash/sort-merge join — no broadcast of the corpus. */
  def nearDupPairsExact(corpus: DataFrame, threshold: Double,
                        nPivots: Int = 4): DataFrame = {
    val bigD = math.sqrt(math.max(2.0 - 2.0 * threshold, 1e-12))
    cosineThresholdPairs(pivotPairs(corpus, bigD, nPivots,
      anchors = lit(true), pair = col("a_id") < col("b_id")), threshold)
  }

  /** (vec_id, embedding, bk) with bk(p) = ⌊d(v̂, pivot_p)/bigD⌋ — the
    * lossless metric-prune bucket stage of [[pivotPairs]]. */
  private def pivotBucketed(corpus: DataFrame, bigD: Double,
                                 nPivots: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        // [[directions]] [p][d] and their norms, sized lazily off the
        // row's dim (seeds disjoint from the LSH tables')
        var piv: Array[Double] = null
        var pivNorm: Array[Double] = null
        var dim = -1
        it.map { case (id, v) =>
          if (v.length != dim) {
            dim = v.length
            piv = directions(nPivots, dim)(p => (7776001L + p * 104729L, 0))
            pivNorm = rowNorms(piv, nPivots, dim)
          }
          val nv = norm(v)
          val buckets = new Array[Int](nPivots)
          var p = 0
          while (p < nPivots) {
            val c = math.max(-1.0,
              math.min(1.0, rowDot(v, piv, p * dim) / (nv * pivNorm(p))))
            val dist = math.sqrt(math.max(0.0, 2.0 - 2.0 * c))
            buckets(p) = (dist / bigD).toInt
            p += 1
          }
          (id, v, buckets)
        }
      }.toDF("vec_id", "embedding", "bk")
  }

  /** Candidate pairs (a_id, b_id, a_emb, b_emb) of the [[pivotBucketed]]
    * prune at radius `bigD`, shared by [[nearDupPairsExact]] and
    * [[hardNegatives]]: a ranges over the rows passing `anchors`, b over
    * the corpus; pivot 1 drives the equi-join with b probing its bucket
    * ±1 (3 copies of the keys, not of the data), every other pivot's
    * buckets must be adjacent, and `pair` filters (a_id, b_id). */
  private def pivotPairs(corpus: DataFrame, bigD: Double, nPivots: Int,
                         anchors: Column, pair: Column): DataFrame = {
    val withBk = pivotBucketed(corpus, bigD, nPivots)
    val a = withBk.filter(anchors)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("bk").as("a_bk"))
    val probe = explode(array(
      element_at(col("bk"), 1) - 1,
      element_at(col("bk"), 1),
      element_at(col("bk"), 1) + 1)).as("probe")
    val b = withBk.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("bk").as("b_bk"), probe)
    val adjacent = (2 to nPivots).map { p =>
      abs(element_at(col("a_bk"), p) - element_at(col("b_bk"), p)) <= 1
    }.reduceOption(_ && _).getOrElse(lit(true))
    a.join(b, element_at(col("a_bk"), 1) === col("probe") && pair && adjacent)
      .select(col("a_id"), col("b_id"), col("a_emb"), col("b_emb"))
  }

  /** Hard-negative mining for contrastive training: for every anchor
    * (vec_id < `anchorMax`) the single best corpus neighbor whose
    * EXACT cosine lies in the hard band [floor, ceil) — similar
    * enough to be informative, below the near-dup ceiling (a near-dup
    * "negative" would be a false negative and poisons the loss).
    * Winner = max cosine, ties to the smaller neg_id; n_band counts
    * the anchor's full in-band candidate set. Output is integer-only
    * (anchor_id, neg_id, n_band) — no float column reaches the
    * driver hash.
    *
    * Exactness: candidates come from the [[pivotPairs]] metric
    * prune at the BAND FLOOR (cos ≥ floor ⟺ unit-sphere distance ≤
    * D(floor); the triangle bound makes bucket adjacency lossless for
    * everything the band can contain — the ceiling needs no prune,
    * it only removes pairs), decided by the [[cosineOf]] kernel, so the
    * DuckDB oracle's ordered folds reproduce every band decision and
    * every argmax bit-for-bit. Pruning power shrinks as the floor
    * drops (same trade documented on [[nearDupPairsExact]]).
    *
    * Scale shape: the anchor side is small by contract (mining runs
    * per query batch); the corpus side explodes only its probe KEYS.
    * With both sides large the same plan is a shuffle equi-join on
    * pivot buckets — never a corpus broadcast. The band census + argmax
    * is one partial-aggregated shuffle over anchor ids. */
  def hardNegatives(corpus: DataFrame, anchorMax: Long = 200L,
                    floor: Double = 0.3, ceil: Double = 0.9,
                    nPivots: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bigD = math.sqrt(math.max(2.0 - 2.0 * floor, 1e-12))
    val banded = pivotPairs(corpus, bigD, nPivots,
        anchors = col("vec_id") < anchorMax, pair = col("a_id") =!= col("b_id"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions(_.flatMap { case (aId, nId, av, bv) =>
        val c = cosineOf(av, bv)
        if (c >= floor && c < ceil) Some((aId, nId, c)) else None
      })
      .toDF("anchor_id", "neg_id", "cos")
    banded.groupBy(col("anchor_id"))
      .agg(count(lit(1)).as("n_band"),
        max(struct(col("cos").as("c"), (-col("neg_id")).as("ni"),
          col("neg_id").as("neg"))).as("pick"))
      .select(col("anchor_id"), col("pick").getField("neg").as("neg_id"),
        col("n_band"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold. Exact variant
    * for verification (O(n²) — at scale use `nearDupPairsLsh`). Norms
    * are precomputed per side so the per-pair work is one dot product.
    * Output is id pairs only (no float column) to keep results
    * hash-stable. */
  def nearDupPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // verification-baseline shape: one side broadcast as primitive
    // arrays (requires it to fit on executors — fine for the exactness
    // baseline; the scale path is LSH buckets), corpus side streams
    // once, pairs computed with tight float loops
    val allArr: Array[(Long, Array[Float], Double)] = corpus
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id, v, norm(v)) }
      .sortBy(_._1)
    val allB = spark.sparkContext.broadcast(allArr)
    corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val all = allB.value
        rows.flatMap { case (aId, aV) =>
          val aN = norm(aV)
          val out = Vector.newBuilder[(Long, Long)]
          var i = 0
          while (i < all.length) {
            val (bId, bV, bN) = all(i)
            if (bId > aId && aV.length == bV.length &&
                dot(aV, bV) / (aN * bN) >= threshold) out += ((aId, bId))
            i += 1
          }
          out.result()
        }
      }.toDF("a_id", "b_id")
  }

  // ------------------------------------------------------------------
  // SQ8: scalar-quantized ANN (int8 codes + exact re-rank)
  // ------------------------------------------------------------------

  /** Quantize one vector against per-dimension corpus max-abs scales:
    * code = floor(x * 127 / m_d) clamped to [-127, 127]. SYMMETRIC
    * quantization, not affine — an affine [0,255] code erases the sign
    * structure (dot products of shifted codes are not monotone in the
    * float dot; measured recall 0.43 vs 0.9+ here), while a per-dim
    * positive rescale preserves signs and approximates the dot up to
    * per-dim weights. floor, not round — round-half ties resolve
    * differently across engines, floor is unambiguous. Static method,
    * not a local def: a closure calling a LOCAL def drags the
    * enclosing frame into the lambda (the corpus_bloom_decontaminate
    * serialization lesson). */
  private def sq8Quantize(v: Array[Float], maxAbs: Array[Float]): Array[Int] = {
    val q = new Array[Int](v.length)
    var d = 0
    while (d < v.length) {
      val m = maxAbs(d).toDouble
      q(d) =
        if (m == 0.0) 0
        else {
          val c = math.floor(v(d).toDouble * 127.0 / m)
          if (c < -127.0) -127 else if (c > 127.0) 127 else c.toInt
        }
      d += 1
    }
    q
  }

  /** Exact squared L2 norm of a code vector (≤ dim·127² — far inside
    * exact-double range even multiplied pairwise). */
  private def sqNorm2(q: Array[Int]): Long = {
    var s = 0L
    var d = 0
    while (d < q.length) { s += q(d).toLong * q(d).toLong; d += 1 }
    s
  }

  /** SQ8 codes of `corpus`, the quantization every SQ8 operator shares:
    * the per-dimension max-abs scales (FLOAT max of abs — exact and
    * order-independent; one dim-sized aggregate per vector length,
    * collected to the driver), broadcast, then each vector through
    * [[sq8Quantize]]. The longest length is the dim: a vector of any
    * other length neither sets a scale nor gets a code, so it is left
    * out as if it were absent. Returns the scales, with which callers
    * quantize their queries ([[sq8QueryCodes]]), and the lazy
    * (vec_id, code) Dataset. */
  private[ops] def sq8Codes(corpus: DataFrame): (Array[Float], Dataset[(Long, Array[Int])]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val ranges = corpus
      .select(size(col("embedding")).as("n"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("n"), col("d")).agg(max(abs(col("x"))).as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getFloat(2)))
    val dim = if (ranges.isEmpty) 0 else ranges.map(_._1).max
    val maxAbs = ranges.filter(_._1 == dim).sortBy(_._2).map(_._3)
    val mB = spark.sparkContext.broadcast(maxAbs)
    val codes = corpus.filter(size(col("embedding")) === dim)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val m = mB.value
        rows.map { case (id, v) => (id, sq8Quantize(v, m)) }
      }.toDF("vec_id", "code").as[(Long, Array[Int])]
    (maxAbs, codes)
  }

  /** The id-sorted SQ8 codes, under the corpus scales `maxAbs`, of the
    * `queries` whose length is the corpus dim; a query of another
    * length has no code, so it gets no neighbours. */
  private def sq8QueryCodes(queries: DataFrame,
                            maxAbs: Array[Float]): Array[(Long, Array[Int])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .collect { case (id, v) if v.length == maxAbs.length => (id, sq8Quantize(v, maxAbs)) }
  }

  /** ANN via 8-bit scalar quantization with exact re-rank — the
    * memory-scale path for similarity search: codes are 4x smaller
    * than float32, so a 10^10-vector index that would need 2.5 TB of
    * float RAM fits in 640 GB of executor memory, and the integer dot
    * product vectorizes (in real deployments, to VNNI/DP4A). Stages:
    *
    *  1. [[sq8Codes]]: per-dimension corpus max-abs (exact and
    *     order-independent, unlike means, which is why SQ needs no
    *     IEEE-fold discipline where PQ's k-means centroids would), then
    *     symmetric [-127,127] codes for corpus and queries;
    *  2. quantized-cosine top-`candidates` cut per query
    *     ([[topCandidates]], then [[rankCut]]): the dot and both norms
    *     are EXACT integer sums (order-independent — no fold
    *     discipline), combined by one sqrt + one division of
    *     exactly-representable doubles, so the score is a deterministic
    *     function of the data. Equal scores are common (duplicate
    *     vectors quantize identically); the scan's id tie rule keeps the
    *     cut independent of the partitioning;
    *  3. [[rerank]] of the candidates to top-k by exact float cosine.
    *
    * Scale shape: the range pass is one dim-sized aggregate; the scan
    * emits only per-partition candidate heaps (queries broadcast);
    * the re-rank joins a candidate set of |queries|·C rows back to the
    * corpus — broadcast-sized by construction. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              candidates: Int = 20): DataFrame = {
    val (maxAbs, codes) = sq8Codes(corpus)
    val qCodes = sq8QueryCodes(queries, maxAbs).map { case (id, q) => (id, (q, sqNorm2(q))) }
    val cand = topCandidates(codes, qCodes, candidates) { qs => cv =>
      val cn = sqNorm2(cv)
      qi => {
        val (qv, qn) = qs(qi)._2
        var s = 0L
        var d = 0
        while (d < cv.length) { s += qv(d).toLong * cv(d).toLong; d += 1 }
        // quantized cosine: exact longs in, ONE sqrt + ONE division —
        // deterministic and oracle-replicable
        if (qn == 0L || cn == 0L) -2.0
        else s.toDouble / math.sqrt((qn * cn).toDouble)
      }
    }
    rerank(rankCut(cand, candidates), corpus, queries, k)
  }

  /** Integer Lloyd k-means over SQ8 codes — embedding-space clustering
    * for diversity-aware sampling and SemDeDup-style semantic dedup
    * buckets: the [[sq8Codes]] of the corpus (the same codes as
    * [[sq8TopK]]), clustered by [[lloyd]] in one subspace. Every
    * arithmetic step is exact or IEEE-fixed, so cluster assignments are
    * bit-identical at any parallelism AND replayable in SQL.
    *
    * Scale shape: the code table shuffles never — each round is one
    * broadcast of k·dim ints out, one k·dim-row aggregate back (the
    * classic Spark k-means contract: model state is driver-sized by
    * construction, data never leaves its partitions). `iters` rounds
    * means exactly `iters` scans + `iters−1` tiny aggregates.
    * Output: (vec_id, cluster, dist2). */
  def kmeansSq8(corpus: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (maxAbs, codes) = sq8Codes(corpus)
    val (_, assign) = lloyd(codes.localCheckpoint(false), maxAbs.length, m = 1, k, iters)
    assign.map { case (id, cluster, dist2, _) => (id, cluster(0).toLong, dist2) }
      .toDF("vec_id", "cluster", "dist2")
  }

  /** Integer Lloyd over SQ8 codes split into `m` contiguous subspaces of
    * `dim / m` dims each, trained jointly: [[kmeansSq8]] is m = 1, and
    * [[pqTopK]] trains its m sub-codebooks in the same loop. Every step
    * is exact or IEEE-fixed, so assignments are bit-identical at any
    * parallelism and replayable in SQL:
    *  - seeds: centroid c of every subspace is cut from the code of the
    *    c-th smallest vec_id (deterministic, no sampling);
    *  - assignment: exact integer squared-L2 argmin per subspace with a
    *    strict `<`, so ties keep the lowest centroid index;
    *  - update: EXACT integer sums per (subspace, centroid, dim) — the
    *    partial aggregate absorbs the corpus map-side — and centroid =
    *    floor(sum/n), one IEEE division + floor that re-quantizes the
    *    centroid to integers so the next round stays exact; an empty
    *    cluster keeps its previous centroid.
    * Per round the model ships out as one m·k·(dim/m)-int broadcast and
    * comes back as one model-sized aggregate; `iters` rounds are `iters`
    * assignment scans and `iters − 1` aggregates. `codes` (vec_id, code)
    * is scanned every round, so the caller pins it. Returns the final
    * centroids, indexed (subspace)(centroid)(dim), and the last
    * assignment (vec_id, centroid per subspace, summed squared distance,
    * code). */
  private[ops] def lloyd(codes: Dataset[(Long, Array[Int])], dim: Int, m: Int,
                         k: Int, iters: Int)
      : (Array[Array[Array[Int]]], Dataset[(Long, Array[Int], Long, Array[Int])]) = {
    val spark = codes.sparkSession
    import spark.implicits._
    require(iters >= 1, s"iters=$iters: Lloyd needs one assignment round")
    val subDim = dim / m
    val seeds = codes.orderBy(col("vec_id")).limit(k).collect().map(_._2)
    require(seeds.length == k, s"corpus smaller than k=$k")
    var cents = Array.tabulate(m, k, subDim)((s, c, sd) => seeds(c)(s * subDim + sd))
    var assign: Dataset[(Long, Array[Int], Long, Array[Int])] = null
    var round = 0
    while (round < iters) {
      val cB = spark.sparkContext.broadcast(cents)
      assign = codes.mapPartitions { rows =>
        val cs = cB.value
        rows.map { case (id, q) =>
          val a = new Array[Int](m)
          var dist2 = 0L
          var s = 0
          while (s < m) {
            var best = 0
            var bestD = Long.MaxValue
            var c = 0
            while (c < k) {
              val cc = cs(s)(c)
              var d2 = 0L
              var sd = 0
              while (sd < subDim) {
                val x = (q(s * subDim + sd) - cc(sd)).toLong; d2 += x * x; sd += 1
              }
              if (d2 < bestD) { bestD = d2; best = c } // strict < : ties keep lowest c
              c += 1
            }
            a(s) = best
            dist2 += bestD
            s += 1
          }
          (id, a, dist2, q)
        }
      }.toDF("vec_id", "assign", "dist2", "code").as[(Long, Array[Int], Long, Array[Int])]
      round += 1
      if (round < iters) {
        val sub = (col("d") / subDim).cast("int")
        val sums = assign
          .select(posexplode(col("code")).as(Seq("d", "q")), col("assign"))
          .select(sub.as("sub"), element_at(col("assign"), sub + 1).as("c"),
            (col("d") % subDim).as("sd"), col("q"))
          .groupBy(col("sub"), col("c"), col("sd"))
          .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
          .collect() // m·k·(dim/m) rows — model-sized by construction
        val next = cents.map(_.map(_.clone())) // empty-cluster guard
        sums.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            math.floor(r.getLong(3).toDouble / r.getLong(4).toDouble).toInt
        }
        cents = next
      }
    }
    (cents, assign)
  }

  /** SemDeDup (Abbas et al. 2023) end-to-end: semantic deduplication
    * by k-means bucketing + within-cluster cosine merge. Composes
    * [[kmeansSq8]] (deterministic integer clusters) with the
    * within-cluster exact-cosine pair join and the min-id
    * connected-component survivor rule ([[Dedup.survivors]]).
    *
    * Scale shape — the whole reason SemDeDup exists: pairwise cosine
    * over 10^9 docs is 10^18 comparisons, but restricted to k-means
    * clusters it is Σ|cluster|² ≈ n²/k, and k GROWS with the corpus
    * (the paper uses k≈10^5 for 10^9 docs), so per-cluster work stays
    * bounded. Here: one equi-join shuffle on cluster id, pair cosines
    * inside each cluster partition, then the star-contraction /
    * size-gated component solve on the (tiny) duplicate-pair set.
    *
    * Output: (vec_id, cluster, rep_id) — rep_id == vec_id ⟺ survivor. */
  def semanticDedup(corpus: DataFrame, k: Int = 8, iters: Int = 3,
                    threshold: Double = 0.45): DataFrame = {
    val assign = kmeansSq8(corpus, k, iters)
      .select(col("vec_id"), col("cluster")).localCheckpoint(false)
    val withVec = assign
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val lhs = withVec.select(col("vec_id").as("a_id"), col("cluster"),
      col("embedding").as("av"))
    val rhs = withVec.select(col("vec_id").as("b_id"), col("cluster"),
      col("embedding").as("bv"))
    // the pair pass evaluates Σ|cluster|² cosines: the primitive
    // kernel, not per-element HOF lambdas
    val pairs = cosineThresholdPairs(lhs.join(rhs, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("av"), col("bv")), threshold)
    val surv = Dedup.survivors(
      corpus.select(col("vec_id").as("doc_id")), pairs)
    assign
      .join(surv.select(col("doc_id").as("vec_id"), col("rep_id")), Seq("vec_id"))
      .select(col("vec_id"), col("cluster"), col("rep_id"))
  }

  /** Product-quantization ANN with exact re-rank — the canonical
    * billion-vector index compression (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): at m=4
    * sub-codebooks of 16 centroids, every corpus vector is 4 half-byte
    * codes ≈ 2 bytes + id — a 10^11-vector index fits where even SQ8
    * could not. All arithmetic is exact integers, so assignments,
    * ADC distances, and the candidate cut are bit-identical at any
    * parallelism and replayable in SQL:
    *
    *  1. vectors quantize to [[sq8Codes]], and each code splits into m
    *     contiguous subvectors;
    *  2. the per-subspace codebooks train jointly in one [[lloyd]]
    *     loop; per round the model ships as one m·k·subDim-int
    *     broadcast out and one m·k·subDim-row aggregate back;
    *  3. the last assignment IS the encoding: (vec_id, m nibble codes);
    *  4. query scan uses the defining PQ trick — an ADC lookup table
    *     per query (dist[sub][c] = exact L2 of the query subvector to
    *     centroid, m·k longs built ONCE per partition), so scoring a
    *     corpus vector is m table loads + adds, never touching floats;
    *  5. the [[topCandidates]] scan scores −adc (exact in a double), so
    *     its (score DESC, id ASC) order is the (adc ASC, id ASC) order;
    *     then the [[rankCut]] to `candidates` and the [[rerank]] of the
    *     survivors by exact float cosine.
    *
    * With `candidates` ≥ corpus size the cut is a no-op and the result
    * equals brute force exactly (pinned by spec). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, m: Int = 4,
             kCode: Int = 16, iters: Int = 2, k: Int = 5,
             candidates: Int = 20): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (maxAbs, codes) = sq8Codes(corpus)
    val dim = maxAbs.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val (cents, enc) = lloyd(codes.localCheckpoint(false), dim, m, kCode, iters)
    val encoded = enc.select(col("vec_id"), col("assign")).as[(Long, Array[Int])]
      .localCheckpoint(false)
    val qCodes = sq8QueryCodes(queries, maxAbs)
    val cB = spark.sparkContext.broadcast(cents)
    val cand = topCandidates(encoded, qCodes, candidates) { qs =>
      val cs = cB.value
      // ADC tables: lut(qi)(sub*kCode + c) = exact L2(query subvec, centroid)
      val lut = Array.tabulate(qs.length, m * kCode) { (qi, i) =>
        val sub = i / kCode; val c = i % kCode
        val qv = qs(qi)._2
        val cc = cs(sub)(c)
        var d2 = 0L
        var sd = 0
        while (sd < subDim) {
          val x = (qv(sub * subDim + sd) - cc(sd)).toLong; d2 += x * x; sd += 1
        }
        d2
      }
      pq => qi => {
        val t = lut(qi)
        var adc = 0L
        var s = 0
        while (s < m) { adc += t(s * kCode + pq(s)); s += 1 }
        (-adc).toDouble
      }
    }
    rerank(rankCut(cand, candidates), corpus, queries, k)
  }

  /** ANN quality-evaluation harness: recall@k of every approximate
    * pipeline in the family ([[ivfTopK]], [[lshTopK]], [[pqTopK]],
    * [[sq8TopK]]) against the exact [[bruteForceTopK]] ground truth on
    * the same query set, plus the brute-force arm itself as the
    * recall=1000 control. "Measure, don't guess" for the index layer:
    * before an IVF/PQ config ships against 10^11 vectors, this census
    * says what the candidate cut actually costs in neighbors lost.
    *
    * Scale shape: the truth table is computed ONCE and
    * localCheckpoint'd (nQ·k rows — tiny), so the multi-consumer
    * re-computation trap doesn't bite; each approximate pipeline is
    * scanned exactly once, LEFT-joined against the checkpointed truth
    * (broadcast-sized), and collapsed to a 1-row aggregate before the
    * 5-row union. n_truth is a 1-row driver scalar. All outputs are
    * exact longs — recall_permille = hits*1000 div truth (integer
    * division, no IEEE anywhere). */
  def annRecall(corpus: DataFrame, k: Int = 5): DataFrame = {
    val queries = corpus.filter(col("vec_id") < 10)
    val truth = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(false)
    val nTruth: Long = truth.count()
    val arms: Seq[(String, DataFrame)] = Seq(
      "bf"  -> truth,
      "ivf" -> ivfTopK(corpus, queries, k),
      "lsh" -> lshTopK(corpus, queries, k),
      "pq"  -> pqTopK(corpus, queries, k = k),
      "sq8" -> sq8TopK(corpus, queries, k))
    arms.map { case (name, approx) =>
      approx.select(col("query_id"), col("neighbor_id"))
        .join(truth.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_returned"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
        .select(lit(name).as("method"), col("n_returned"), col("n_hits"),
          lit(nTruth).as("n_truth"),
          expr(s"n_hits * 1000 div ${nTruth}L").as("recall_permille"))
    }.reduce(_.unionByName(_))
  }
}
