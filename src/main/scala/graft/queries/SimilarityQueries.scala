package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Qx._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Float math parity with the oracle: every dot/norm is computed as a
  * sequential left fold over doubles (`aggregate` in Spark, `list_reduce`
  * in DuckDB) — both engines then execute the *same* IEEE operations in the
  * *same* order, so results are bit-identical and need no rounding fudge.
  *
  * Scale path: brute-force top-k is the correctness baseline (a single
  * pass + TakeOrderedAndProject, no shuffle of the vectors); the LSH
  * variant buckets by sign bits so the candidate set per query is ~1/256
  * of the corpus, which is the strategy that survives a 100-TB corpus —
  * bucketing is a cheap narrow column, and the bucket join broadcasts the
  * (tiny) probe set.
  */
object SimilarityQueries {

  /** Sequential dot product / norm via the native [[graft.ml.VecDot]]
    * expression — numerically identical to the `aggregate(zip_with(...))`
    * fold (left-to-right additions from 0.0, = DuckDB's list_reduce) but a
    * tight JVM loop instead of interpreted per-element lambdas.
    */
  private def dot(a: String, b: String): Column =
    graft.ml.VecOps.dot(col(a), col(b))

  private def norm(a: String): Column =
    graft.ml.VecOps.norm(col(a))

  private val dotSql =
    "list_reduce(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), (x, y) -> x + y)"
  private def normSql(c: String) =
    s"sqrt(list_reduce(list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"

  /** Sign-bit LSH bucket over the first 4 dimensions (axis-aligned
    * hyperplanes): a 0..15 int computed row-local. 4 bits keeps ~1/16 of
    * the corpus per bucket — recall-friendly at test scale; at production
    * scale the bit count grows with the corpus (8-12 bits at 100 TB).
    * Codegen'd when-chain via [[graft.ml.VecOps.signBucket]] — no
    * interpreted HOF lambda in the hot path.
    */
  private def bucket(c: String): Column =
    graft.ml.VecOps.signBucket(col(c), 4)

  private def bucketSql(c: String): String =
    s"CAST(list_sum(list_transform(range(1, 5), i -> CASE WHEN $c[i] >= 0 THEN 1 << (i - 1) ELSE 0 END)) AS INTEGER)"

  // ---- shared IVF plumbing (q112 / q132 / q134) ---------------------------
  // One coarse-quantizer recipe — 16 first vectors, cosine argmax, lowest
  // id on ties — expressed ONCE on each engine so the three queries that
  // compose it can never silently desynchronize from their oracles.

  /** Driver-collected coarse codebook: (id, vector, norm) of the first 16
    * vectors — tiny by construction, broadcast with the plan.
    */
  private def coarseCodebook(e: DataFrame): Seq[(Long, Seq[Double], Double)] =
    e.filter(col("vec_id") < 16)
      .select(col("vec_id"), col("embedding").cast("array<double>"),
        graft.ml.VecOps.norm(col("embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  /** Add `v_nrm` + `cell` (row-local argmax over the literal codebook) to
    * any frame carrying `embedding` — other columns pass through.
    */
  private def assignCells(df: DataFrame,
      codebook: Seq[(Long, Seq[Double], Double)]): DataFrame =
    df.withColumn("v_nrm", graft.ml.VecOps.norm(col("embedding")))
      .withColumn("cell",
        graft.ml.VecOps.argmaxCell(col("embedding"), col("v_nrm"), codebook))

  /** The query's probe set: rank the broadcast centroids against vector
    * `qid`, keep `nprobe` — (q_cell, q_emb, q_nrm) rows, per-query work
    * independent of corpus size.
    */
  private def probeRows(e: DataFrame, codebook: Seq[(Long, Seq[Double], Double)],
      qid: Int, nprobe: Int): DataFrame = {
    import e.sparkSession.implicits._
    val cbDf = codebook.toDF("c_id", "c_emb", "c_nrm")
      .select(col("c_id"), col("c_emb").cast("array<float>"), col("c_nrm"))
    e.filter(col("vec_id") === qid)
      .select(col("embedding").as("q_emb"),
        graft.ml.VecOps.norm(col("embedding")).as("q_nrm"))
      .crossJoin(broadcast(cbDf))
      .withColumn("c_sim",
        graft.ml.VecOps.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .orderBy(desc("c_sim"), col("c_id"))
      .limit(nprobe)
      .select(col("c_id").as("q_cell"), col("q_emb"), col("q_nrm"))
  }

  /** [[probeRows]] for a TRAINED codebook: centroids stay full-precision
    * `array<double>` (a Lloyd mean is not float-representable — the
    * heuristic path's float cast is exact only because its "centroids"
    * ARE original float vectors); [[graft.ml.VecDot]] multiplies the
    * float query against double centroids exactly as the oracle's
    * CAST(q[i] AS DOUBLE) * centroid[i].
    */
  private def probeRowsTrained(e: DataFrame,
      codebook: Seq[(Long, Seq[Double], Double)], qid: Int, nprobe: Int): DataFrame = {
    import e.sparkSession.implicits._
    val cbDf = codebook.toDF("c_id", "c_emb", "c_nrm")
    e.filter(col("vec_id") === qid)
      .select(col("embedding").as("q_emb"),
        graft.ml.VecOps.norm(col("embedding")).as("q_nrm"))
      .crossJoin(broadcast(cbDf))
      .withColumn("c_sim",
        graft.ml.VecOps.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .orderBy(desc("c_sim"), col("c_id"))
      .limit(nprobe)
      .select(col("c_id").as("q_cell"), col("q_emb"), col("q_nrm"))
  }

  /** The oracle's mirror of the same recipe: nrm / centroids / assigned /
    * qv / probes CTEs, parameterized by query vector and nprobe.
    */
  private def ivfOracleCtes(qVecId: Int, nprobe: Int): String = s"""
        nrm AS (
          SELECT vec_id, embedding, ${normSql("embedding")} AS v_nrm FROM embeddings),
        centroids AS (
          SELECT vec_id AS c_id, embedding AS c_emb, v_nrm AS c_nrm
          FROM nrm WHERE vec_id < 16),
        assigned AS (
          SELECT vec_id, embedding, v_nrm, c_id AS cell FROM (
            SELECT n.vec_id, n.embedding, n.v_nrm, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(n.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), (x, y) -> x + y)
                  / (n.v_nrm * c.c_nrm) DESC, c.c_id) AS rn
            FROM nrm n CROSS JOIN centroids c) WHERE rn = 1),
        qv AS (SELECT embedding AS q_emb, v_nrm AS q_nrm FROM nrm WHERE vec_id = $qVecId),
        probes AS (
          SELECT c_id AS q_cell FROM (
            SELECT c.c_id,
              ROW_NUMBER() OVER (ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), (x, y) -> x + y)
                  / (q.q_nrm * c.c_nrm) DESC, c.c_id) AS rn
            FROM qv q CROSS JOIN centroids c) WHERE rn <= $nprobe)"""

  val all: Seq[Q] = Seq(

    // ---- dominant principal axis: integer-exact power iteration -----------
    // The oracle-checkable face of the PCA module (graft.ml.Pca): inputs
    // quantize to floor(e·2^20) — ×2^k is IEEE-exact, so both engines see
    // identical longs — the n²-scaled covariance n·Σwwᵀ − (Σw)(Σw)ᵀ is pure
    // integer, and four power-iteration rounds run the documented floordiv
    // recurrence (driver BigInt ↔ oracle HUGEINT). The float Jacobi path
    // (fit/project/whiten) is spec-verified against this axis in PcaSpec.
    // Scale: one constant-size distributed moment pass (count + 64 sums +
    // 2080 product sums per partition); everything after is O(d²) driver
    // work, the KMeans-codebook discipline.
    Q("q227_power_iteration",
      (s, dir) => {
        val axis = graft.ml.Pca.dominantAxisFixedPoint(
          t(s, dir, "embeddings"), "embedding", dims = 64, iters = 4)
        import s.implicits._
        axis.toDF("dim", "v").withColumn("dim", col("dim").cast("int"))
          .orderBy("dim")
      },
      Some("""
        WITH w AS (
          SELECT vec_id, i, CAST(floor(e * 1048576) AS BIGINT) AS w
          FROM (SELECT vec_id, unnest(embedding) AS e,
                  generate_subscripts(embedding, 1) AS i
                FROM embeddings)),
        nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS HUGEINT) AS n FROM w),
        sums AS (SELECT i, CAST(SUM(w) AS HUGEINT) AS s FROM w GROUP BY 1),
        prods AS (
          SELECT a.i AS i, b.i AS j, CAST(SUM(a.w * b.w) AS HUGEINT) AS p
          FROM w a JOIN w b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        c AS (
          SELECT p.i, p.j, nn.n * p.p - sa.s * sb.s AS c
          FROM prods p
          JOIN sums sa ON sa.i = p.i
          JOIN sums sb ON sb.i = p.j
          CROSS JOIN nn),
        v0 AS (SELECT i, CAST(1024 AS HUGEINT) AS v FROM sums),
        u1 AS (SELECT c.i, SUM(c.c * v0.v) AS u FROM c
               JOIN v0 ON v0.i = c.j GROUP BY 1),
        v1 AS (SELECT i, (u * 1024 - (((u * 1024) % m + m) % m)) // m AS v
               FROM (SELECT i, u,
                 GREATEST(MAX(ABS(u)) OVER (), 1) AS m FROM u1)),
        u2 AS (SELECT c.i, SUM(c.c * v1.v) AS u FROM c
               JOIN v1 ON v1.i = c.j GROUP BY 1),
        v2 AS (SELECT i, (u * 1024 - (((u * 1024) % m + m) % m)) // m AS v
               FROM (SELECT i, u,
                 GREATEST(MAX(ABS(u)) OVER (), 1) AS m FROM u2)),
        u3 AS (SELECT c.i, SUM(c.c * v2.v) AS u FROM c
               JOIN v2 ON v2.i = c.j GROUP BY 1),
        v3 AS (SELECT i, (u * 1024 - (((u * 1024) % m + m) % m)) // m AS v
               FROM (SELECT i, u,
                 GREATEST(MAX(ABS(u)) OVER (), 1) AS m FROM u3)),
        u4 AS (SELECT c.i, SUM(c.c * v3.v) AS u FROM c
               JOIN v3 ON v3.i = c.j GROUP BY 1),
        v4 AS (SELECT i, (u * 1024 - (((u * 1024) % m + m) % m)) // m AS v
               FROM (SELECT i, u,
                 GREATEST(MAX(ABS(u)) OVER (), 1) AS m FROM u4))
        SELECT CAST(i AS INTEGER) AS dim, CAST(v AS BIGINT) AS v
        FROM v4 ORDER BY 1""")),

    // ---- Johnson-Lindenstrauss sign-projection sketch ----------------------
    // 64-dim embeddings compress to 16 integer sketch dims via the
    // content-addressed ±1 matrix (md5 parity — both engines derive it
    // independently, nothing is stored or shipped). Inputs quantize to
    // floor(e·2^20) so the sketch is integer-exact and hash-verified.
    // Long output format (vec_id, j, y) keeps the oracle a plain
    // join-aggregate instead of a 16-way pivot.
    Q("q232_jl_sketch",
      (s, dir) => graft.ml.RandomProjection
        .sketch(t(s, dir, "embeddings"), "embedding", dims = 64, outDims = 16)
        .select(col("vec_id"), posexplode(col("jl")).as(Seq("j", "y")))
        .withColumn("j", col("j").cast("int"))
        .orderBy("vec_id", "j"),
      Some("""
        WITH w AS (
          SELECT vec_id, i, CAST(floor(e * 1048576) AS BIGINT) AS w
          FROM (SELECT vec_id, unnest(embedding) AS e,
                  generate_subscripts(embedding, 1) AS i
                FROM embeddings)),
        signs AS (
          SELECT i.i, j.j,
            CASE WHEN CAST('0x' || substr(md5('jl#' || CAST(i.i - 1 AS VARCHAR)
                   || '#' || CAST(j.j AS VARCHAR)), 1, 1) AS INTEGER) % 2 = 0
                 THEN 1 ELSE -1 END AS s
          FROM generate_series(1, 64) i(i), generate_series(0, 15) j(j))
        SELECT w.vec_id, CAST(signs.j AS INTEGER) AS j,
          CAST(SUM(w.w * signs.s) AS BIGINT) AS y
        FROM w JOIN signs ON signs.i = w.i
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- MMR diversification over a bounded candidate pool ----------------
    // Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    // top-50 brute-force candidates for query vec 0, then the greedy
    // λ·rel − (1−λ)·max-sim-to-selected pick of 5, run through the BATCH
    // path (one shuffle on query_id, greedy row-local in mapGroups). The
    // oracle unrolls the five greedy steps as CTEs with the same left-fold
    // dots and the same `1.0 − 0.7` penalty expression, so scores match
    // bit-for-bit — the greedy's argmax order is thereby hash-verified,
    // not just its final membership.
    Q("q228_mmr_diversify",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val cand = e.crossJoin(broadcast(qv))
          .filter(col("vec_id") =!= 0)
          .withColumn("rel",
            dot("embedding", "qv") / (norm("embedding") * norm("qv")))
          .orderBy(desc("rel"), col("vec_id")).limit(50)
          .select(lit(0L).as("query_id"), col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"), col("rel"))
        graft.ml.Mmr.diversifyBatch(cand, k = 5, lam = 0.7)
          .orderBy("rank")
      },
      Some {
        def sim(c: String, sa: String) =
          s"(list_reduce(list_transform(range(1, 65), i -> " +
            s"CAST($c.embedding[i] AS DOUBLE) * CAST($sa.embedding[i] AS DOUBLE)), " +
            s"(x, y) -> x + y) / ($c.nrm * $sa.nrm))"
        s"""
        WITH q AS (
          SELECT embedding AS qv, ${normSql("embedding")} AS q_nrm
          FROM embeddings WHERE vec_id = 0),
        cand AS (
          SELECT vec_id, embedding, nrm, rel FROM (
            SELECT vec_id, embedding, ${normSql("embedding")} AS nrm,
              $dotSql / (${normSql("embedding")} * q_nrm) AS rel
            FROM embeddings, q WHERE vec_id <> 0)
          ORDER BY rel DESC, vec_id LIMIT 50),
        s1 AS (SELECT vec_id, embedding, nrm, rel, rel AS score
               FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
        s2 AS (SELECT c.vec_id, c.embedding, c.nrm, c.rel,
                 CAST(0.7 AS DOUBLE) * c.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ${sim("c", "s1")} AS score
               FROM cand c, s1 WHERE c.vec_id <> s1.vec_id
               ORDER BY score DESC, c.vec_id LIMIT 1),
        s3 AS (SELECT c.vec_id, c.embedding, c.nrm, c.rel,
                 CAST(0.7 AS DOUBLE) * c.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) *
                   GREATEST(${sim("c", "s1")}, ${sim("c", "s2")}) AS score
               FROM cand c, s1, s2
               WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id)
               ORDER BY score DESC, c.vec_id LIMIT 1),
        s4 AS (SELECT c.vec_id, c.embedding, c.nrm, c.rel,
                 CAST(0.7 AS DOUBLE) * c.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) *
                   GREATEST(${sim("c", "s1")}, ${sim("c", "s2")},
                     ${sim("c", "s3")}) AS score
               FROM cand c, s1, s2, s3
               WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id, s3.vec_id)
               ORDER BY score DESC, c.vec_id LIMIT 1),
        s5 AS (SELECT c.vec_id, c.embedding, c.nrm, c.rel,
                 CAST(0.7 AS DOUBLE) * c.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) *
                   GREATEST(${sim("c", "s1")}, ${sim("c", "s2")},
                     ${sim("c", "s3")}, ${sim("c", "s4")}) AS score
               FROM cand c, s1, s2, s3, s4
               WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id, s3.vec_id, s4.vec_id)
               ORDER BY score DESC, c.vec_id LIMIT 1)
        SELECT * FROM (
          SELECT CAST(0 AS BIGINT) AS query_id, 1 AS "rank", vec_id, score FROM s1
          UNION ALL SELECT 0, 2, vec_id, score FROM s2
          UNION ALL SELECT 0, 3, vec_id, score FROM s3
          UNION ALL SELECT 0, 4, vec_id, score FROM s4
          UNION ALL SELECT 0, 5, vec_id, score FROM s5)
        ORDER BY "rank""""
      }),

    // ---- brute-force cosine top-k (the exactness baseline) ----------------
    Q("q40_cosine_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
        e.crossJoin(broadcast(qv))
          .filter(col("vec_id") =!= 0)
          .withColumn("sim",
            dot("embedding", "qv") / (norm("embedding") * norm("qv")))
          .orderBy(desc("sim"), col("vec_id"))
          .limit(10)
          .select("vec_id", "sim")
      },
      Some(s"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
          $dotSql / (${normSql("embedding")} * ${normSql("qv")}) AS sim
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY sim DESC, vec_id LIMIT 10""")),

    // ---- LSH-bucketed ANN: probe only the query's sign bucket -------------
    Q("q41_lsh_ann",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .withColumn("bucket", bucket("embedding"))
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"), col("bucket").as("qbucket"))
        e.join(broadcast(qv), col("bucket") === col("qbucket"))
          .filter(col("vec_id") =!= 0)
          .withColumn("sim",
            dot("embedding", "qv") / (norm("embedding") * norm("qv")))
          .orderBy(desc("sim"), col("vec_id"))
          .limit(5)
          .select("vec_id", "bucket", "sim")
      },
      Some(s"""
        WITH b AS (
          SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
        q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
        SELECT vec_id, bucket,
          $dotSql / (${normSql("embedding")} * ${normSql("qv")}) AS sim
        FROM b, q WHERE bucket = qbucket AND vec_id <> 0
        ORDER BY sim DESC, vec_id LIMIT 5""")),

    // ---- NDCG@10: graded retrieval quality of the LSH path ----------------
    // Recall (q134/q149) counts hits; NDCG grades WHERE they land. Ideal =
    // brute-force top-10 with gain 11−rank; system = the q41 sign-LSH
    // ranking; NDCG = Σ gain_sys(r)·D_r / Σ gain_ideal(r)·D_r. The log2
    // discounts are pre-scaled integer literals D_r = round(2^32/log2(r+1))
    // baked into BOTH engines — summing exact longs sidesteps libm log2
    // ulp drift and float accumulation order; only the final ratio is a
    // double (one division, deterministic).
    Q("q233_ndcg",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val discount = typedLit(Seq(4294967296L, 2709822658L, 2147483648L,
          1849741732L, 1661520155L, 1529898219L, 1431655765L, 1354911329L,
          1292913986L, 1241523975L))
        val e = t(s, dir, "embeddings")
          .withColumn("bucket", bucket("embedding"))
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"), col("bucket").as("qbucket"))
        val w = Window.orderBy(desc("sim"), col("vec_id"))
        val ideal = e.crossJoin(broadcast(qv)).filter(col("vec_id") =!= 0)
          .withColumn("sim",
            dot("embedding", "qv") / (norm("embedding") * norm("qv")))
          .orderBy(desc("sim"), col("vec_id")).limit(10)
          .withColumn("rnk", row_number().over(w))
          .select(col("vec_id"), (lit(11L) - col("rnk")).as("gain"),
            col("rnk").as("ideal_rnk"))
        val sys = e.join(broadcast(qv), col("bucket") === col("qbucket"))
          .filter(col("vec_id") =!= 0)
          .withColumn("sim",
            dot("embedding", "qv") / (norm("embedding") * norm("qv")))
          .orderBy(desc("sim"), col("vec_id")).limit(10)
          .withColumn("rnk", row_number().over(w))
          .select(col("vec_id"), col("rnk"))
        val dcgSys = sys.join(ideal.select("vec_id", "gain"), Seq("vec_id"), "left")
          .select(sum(coalesce(col("gain"), lit(0L)) *
            element_at(discount, col("rnk"))).as("dcg_sys"))
        val dcgIdeal = ideal
          .select(sum(col("gain") * element_at(discount, col("ideal_rnk")))
            .as("dcg_ideal"))
        dcgSys.crossJoin(dcgIdeal)
          .select(lit(10).as("k"), col("dcg_sys"), col("dcg_ideal"),
            (col("dcg_sys").cast("double") / col("dcg_ideal").cast("double"))
              .as("ndcg"))
      },
      Some(s"""
        WITH disc AS (
          SELECT * FROM (VALUES (1, 4294967296), (2, 2709822658),
            (3, 2147483648), (4, 1849741732), (5, 1661520155),
            (6, 1529898219), (7, 1431655765), (8, 1354911329),
            (9, 1292913986), (10, 1241523975)) AS t(rnk, d)),
        b AS (
          SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
          FROM embeddings),
        q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
        ideal AS (
          SELECT vec_id, 11 - CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id)
              AS BIGINT) AS gain,
            CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INT) AS ideal_rnk
          FROM (
            SELECT vec_id,
              $dotSql / (${normSql("embedding")} * ${normSql("qv")}) AS sim
            FROM b, q WHERE vec_id <> 0
            ORDER BY sim DESC, vec_id LIMIT 10)),
        sys AS (
          SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id)
              AS INT) AS rnk
          FROM (
            SELECT vec_id,
              $dotSql / (${normSql("embedding")} * ${normSql("qv")}) AS sim
            FROM b, q WHERE bucket = qbucket AND vec_id <> 0
            ORDER BY sim DESC, vec_id LIMIT 10)),
        ds AS (
          SELECT CAST(SUM(COALESCE(i.gain, 0) * d.d) AS BIGINT) AS dcg_sys
          FROM sys LEFT JOIN ideal i ON sys.vec_id = i.vec_id
          JOIN disc d ON d.rnk = sys.rnk),
        di AS (
          SELECT CAST(SUM(gain * d.d) AS BIGINT) AS dcg_ideal
          FROM ideal JOIN disc d ON d.rnk = ideal.ideal_rnk)
        SELECT 10 AS k, dcg_sys, dcg_ideal,
          CAST(dcg_sys AS DOUBLE) / CAST(dcg_ideal AS DOUBLE) AS ndcg
        FROM ds, di""")),

    // ---- MRR + hit@k: the rank-position eval beside NDCG (q233) ------------
    // Mean reciprocal rank of the true nearest neighbor in the LSH ranking,
    // exact-rational (numerator/denominator integers; rr_milli = floor
    // form), plus hit@1/@5/@10 — the retrieval dashboard triple. Same
    // brute-vs-LSH frames as q233, one join.
    Q("q248_mrr_hits",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "embeddings")
          .withColumn("bucket", bucket("embedding"))
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"), col("bucket").as("qbucket"))
        val w = Window.orderBy(desc("sim"), col("vec_id"))
        val truth = e.crossJoin(broadcast(qv)).filter(col("vec_id") =!= 0)
          .withColumn("sim",
            dot("embedding", "qv") / (norm("embedding") * norm("qv")))
          .orderBy(desc("sim"), col("vec_id")).limit(1)
          .select(col("vec_id"))
        val sys = e.join(broadcast(qv), col("bucket") === col("qbucket"))
          .filter(col("vec_id") =!= 0)
          .withColumn("sim",
            dot("embedding", "qv") / (norm("embedding") * norm("qv")))
          .orderBy(desc("sim"), col("vec_id")).limit(10)
          .withColumn("rnk", row_number().over(w))
          .select(col("vec_id"), col("rnk"))
        truth.join(sys, Seq("vec_id"), "left")
          .select(
            col("vec_id").as("true_nn"),
            coalesce(col("rnk"), lit(0)).as("found_at"),
            when(col("rnk").isNotNull, expr("1000 div rnk")).otherwise(lit(0L))
              .as("rr_milli"),
            when(col("rnk") <= 1, 1L).otherwise(0L).as("hit_at_1"),
            when(col("rnk") <= 5, 1L).otherwise(0L).as("hit_at_5"),
            when(col("rnk") <= 10, 1L).otherwise(0L).as("hit_at_10"))
      },
      Some(s"""
        WITH b AS (
          SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
          FROM embeddings),
        q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
        truth AS (
          SELECT vec_id FROM (
            SELECT vec_id,
              $dotSql / (${normSql("embedding")} * ${normSql("qv")}) AS sim
            FROM b, q WHERE vec_id <> 0
            ORDER BY sim DESC, vec_id LIMIT 1)),
        sys AS (
          SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id)
              AS INT) AS rnk
          FROM (
            SELECT vec_id,
              $dotSql / (${normSql("embedding")} * ${normSql("qv")}) AS sim
            FROM b, q WHERE bucket = qbucket AND vec_id <> 0
            ORDER BY sim DESC, vec_id LIMIT 10))
        SELECT t.vec_id AS true_nn,
          COALESCE(s.rnk, 0) AS found_at,
          CAST(CASE WHEN s.rnk IS NOT NULL THEN 1000 // s.rnk ELSE 0 END
            AS BIGINT) AS rr_milli,
          CAST(CASE WHEN s.rnk <= 1 THEN 1 ELSE 0 END AS BIGINT) AS hit_at_1,
          CAST(CASE WHEN s.rnk <= 5 THEN 1 ELSE 0 END AS BIGINT) AS hit_at_5,
          CAST(CASE WHEN s.rnk <= 10 THEN 1 ELSE 0 END AS BIGINT) AS hit_at_10
        FROM truth t LEFT JOIN sys s ON t.vec_id = s.vec_id""")),

    // ---- embedding near-dup: exact copies planted, found via buckets ------
    // Corpus ∪ copies of every 50th vector; pairs from the same sign bucket
    // with cosine >= 0.999 are reported (the planted copies give sim = 1).
    Q("q42_embedding_neardup",
      (s, dir) => {
        val e = t(s, dir, "embeddings").select("vec_id", "embedding")
        val planted = e.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        // Norms are computed once per VECTOR (before the pair join), so the
        // per-pair work is just the dot product — at scale the pair join is
        // quadratic-in-bucket and must stay as lean as possible.
        val all = e.unionByName(planted)
          .withColumn("bucket", bucket("embedding"))
          .withColumn("nrm", norm("embedding"))
        val a = all.select(col("bucket"), col("vec_id").as("vec_a"),
          col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
        val b = all.select(col("bucket"), col("vec_id").as("vec_b"),
          col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
        a.join(b, Seq("bucket"))
          .filter(col("vec_a") < col("vec_b"))
          .withColumn("sim",
            graft.ml.VecOps.dot(col("emb_a"), col("emb_b"))
              / (col("nrm_a") * col("nrm_b")))
          .filter(col("sim") >= 0.999)
          .select("vec_a", "vec_b", "sim")
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""
        WITH all_vecs AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
        bucketed AS (
          SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket,
            ${normSql("embedding")} AS nrm
          FROM all_vecs),
        pairs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            list_reduce(list_transform(range(1, 65),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
              / (a.nrm * b.nrm) AS sim
          FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, sim FROM pairs WHERE sim >= 0.999
        ORDER BY vec_a, vec_b""")),

    // ---- IVF ANN: coarse quantizer -> inverted cells -> probe one cell ----
    // Codebook = the first 16 vectors (deterministic stand-in for k-means
    // centroids), collected driver-side ONCE (tiny by construction — the
    // same broadcast-build pattern as SpatialIndexJoin) and baked into a
    // row-local argmax expression. Assignment therefore shuffles NOTHING:
    // the old crossJoin+row_number window pushed 16x the corpus through a
    // full exchange just to pick each row's max. Cells shrink the candidate
    // set ~16x; real deployments train the codebook and use 4-64k cells.
    Q("q77_ivf_ann",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val codebook = e.filter(col("vec_id") < 16)
          .select(col("vec_id"), col("embedding").cast("array<double>"),
            graft.ml.VecOps.norm(col("embedding")))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
          .sortBy(_._1).toSeq
        val assigned = e
          .select(col("vec_id"), col("embedding"),
            graft.ml.VecOps.norm(col("embedding")).as("v_nrm"))
          .withColumn("cell",
            graft.ml.VecOps.argmaxCell(col("embedding"), col("v_nrm"), codebook))
        val q = assigned.filter(col("vec_id") === 42)
          .select(col("embedding").as("q_emb"), col("v_nrm").as("q_nrm"), col("cell").as("q_cell"))
        assigned.join(broadcast(q), col("cell") === col("q_cell"))
          .filter(col("vec_id") =!= 42)
          .withColumn("sim",
            graft.ml.VecOps.dot(col("embedding"), col("q_emb")) / (col("v_nrm") * col("q_nrm")))
          .orderBy(desc("sim"), col("vec_id"))
          .limit(5)
          .select("vec_id", "cell", "sim")
      },
      Some(s"""
        WITH nrm AS (
          SELECT vec_id, embedding, ${normSql("embedding")} AS v_nrm FROM embeddings),
        centroids AS (
          SELECT vec_id AS c_id, embedding AS c_emb, v_nrm AS c_nrm
          FROM nrm WHERE vec_id < 16),
        assigned AS (
          SELECT vec_id, embedding, v_nrm, c_id AS cell FROM (
            SELECT n.vec_id, n.embedding, n.v_nrm, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(n.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), (x, y) -> x + y)
                  / (n.v_nrm * c.c_nrm) DESC, c.c_id) AS rn
            FROM nrm n CROSS JOIN centroids c) WHERE rn = 1),
        q AS (
          SELECT embedding AS q_emb, v_nrm AS q_nrm, cell AS q_cell
          FROM assigned WHERE vec_id = 42)
        SELECT vec_id, cell,
          list_reduce(list_transform(range(1, 65),
            i -> CAST(embedding[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)), (x, y) -> x + y)
            / (v_nrm * q_nrm) AS sim
        FROM assigned, q WHERE cell = q_cell AND vec_id <> 42
        ORDER BY sim DESC, vec_id LIMIT 5""")),

    // ---- IVF multi-probe: nprobe=2 recall dial -----------------------------
    // Single-cell IVF misses neighbors that land just across a Voronoi
    // boundary; probing the query's top-N cells is the standard recall
    // dial. The CORPUS side is untouched (same zero-shuffle row-local
    // argmax assignment as q77); only the one query row ranks the 16
    // broadcast centroids and keeps two — per-query work, independent of
    // corpus size. The candidate join then broadcasts 2 narrow probe rows.
    Q("q112_ivf_multiprobe",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val codebook = coarseCodebook(e)
        val assigned = assignCells(
          e.select(col("vec_id"), col("embedding")), codebook)
        val probes = probeRows(e, codebook, qid = 42, nprobe = 2)
        assigned.join(broadcast(probes), col("cell") === col("q_cell"))
          .filter(col("vec_id") =!= 42)
          .withColumn("sim",
            graft.ml.VecOps.dot(col("embedding"), col("q_emb")) / (col("v_nrm") * col("q_nrm")))
          .orderBy(desc("sim"), col("vec_id"))
          .limit(5)
          .select("vec_id", "cell", "sim")
      },
      Some(s"""
        WITH ${ivfOracleCtes(qVecId = 42, nprobe = 2)}
        SELECT a.vec_id, a.cell,
          list_reduce(list_transform(range(1, 65),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), (x, y) -> x + y)
            / (a.v_nrm * q.q_nrm) AS sim
        FROM assigned a JOIN probes p ON a.cell = p.q_cell, qv q
        WHERE a.vec_id <> 42
        ORDER BY sim DESC, a.vec_id LIMIT 5""")),

    // ---- label-centroid similarity (vector agg + rollup shape) ------------
    // Per label: average vector via ASSOCIATIVE decimal sums, then the
    // squared norm of each label centroid.
    //
    // Exactness + scale, both at once: each float element times 2^44 is an
    // exact INTEGER double (floats carry 24-bit mantissas; the testdata's
    // magnitudes are all >= 2^-21, so no fractional bits survive the
    // shift), and integer decimal sums are exact and order-independent —
    // no ordered fold needed, so the aggregation state is 64 fixed-width
    // decimals instead of a per-group collect_list that grows with the
    // corpus (the round-1 formulation's scale-killer: a hot label at
    // 100 TB would OOM the aggregate buffer). Means/norms then divide the
    // scale factor back out in IEEE-identical order on both engines.
    Q("q43_label_centroids",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val scale = 17592186044416.0 // 2^44
        val dimSums = (0 until 64).map(i =>
          sum((element_at(col("embedding"), i + 1).cast("double") * scale)
            .cast("decimal(38,0)")).as(s"s$i"))
        val agged = e.groupBy("label")
          .agg(count(lit(1)).as("n"), dimSums: _*)
        val avSquares = (0 until 64).map { i =>
          // d2d: decimal→double through a string (correctly rounded on
          // both engines even past 2^53 of scaled units — see Qx.d2d)
          val av = d2d(col(s"s$i")) / col("n") / lit(scale)
          av * av
        }
        agged.select(col("label"), col("n"),
          avSquares.reduce(_ + _).as("centroid_sq_norm"))
          .orderBy("label")
      },
      Some("""
        WITH per_dim AS (
          SELECT label, i AS pos, COUNT(*) AS n,
            CAST(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * 17592186044416.0 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sd
          FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
          GROUP BY label, i),
        centroids AS (
          SELECT label, n, list(sd / n / 17592186044416.0 ORDER BY pos) AS centroid
          FROM per_dim GROUP BY label, n)
        SELECT label, n,
          list_reduce(list_transform(centroid, x -> x * x), (x, y) -> x + y) AS centroid_sq_norm
        FROM centroids ORDER BY label""")),

    // ---- IVF with LEARNED centroids: Lloyd k-means, 2 iterations ----------
    // Each iteration = one corpus pass: row-local argmax assignment against
    // the broadcast codebook + a k-row decimal-sum aggregate. Output: cell
    // occupancy and centroid norms under the trained codebook. The oracle
    // replays both iterations in SQL with identical arithmetic.
    Q("q92_kmeans_ivf",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val codebook = graft.ml.KMeans.fitCodebook(s, e, k = 16, iters = 2)
        val assigned = e.select(col("vec_id"), col("embedding"),
            graft.ml.VecOps.norm(col("embedding")).as("v_nrm"))
          .withColumn("cell",
            graft.ml.VecOps.argmaxCell(col("embedding"), col("v_nrm"), codebook))
        val counts = assigned.groupBy("cell").agg(count(lit(1)).as("members"))
        val cb = codebook.map { case (id, c, _) =>
          (id, c.foldLeft(0.0)((acc, v) => acc + v * v))
        }.toDF("cell", "centroid_sq_norm")
        cb.join(counts, Seq("cell"), "left")
          .select(col("cell"), coalesce(col("members"), lit(0L)).as("members"),
            col("centroid_sq_norm"))
          .orderBy("cell")
      },
      Some(kmeansOracleSql))
    ,

    // ---- product quantization: train -> encode -> ADC top-k ---------------
    // The memory side of the IVF stack (q77/q92/q112 partition the corpus;
    // PQ compresses the residents): M=4 subspaces x K=4 L2 centroids,
    // 2 Lloyd iterations each, every vector reduced to 4 codes, and the
    // query scanned against codes via a 4x4 ADC lookup table — the float
    // corpus is never read on the query path. Training assignment,
    // encoding, table entries and the ADC sum all fold doubles in the same
    // element order as the oracle's list_reduce, so the ENTIRE pipeline is
    // hash-exact end to end. The code vector is emitted pipe-joined (not
    // as a raw array) so every driver-side comparator can sort the rows.
    Q("q129_pq_adc",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val cbs = graft.ml.Pq.fit(s, e, m = 4, k = 4, iters = 2)
        val coded = graft.ml.Pq.encode(e.filter(col("embedding").isNotNull), cbs)
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        graft.ml.Pq.adcTopK(coded, graft.ml.Pq.adcTable(q, cbs), topK = 10)
          .withColumn("codes", concat_ws("|", col("codes")))
      },
      Some(pqOracleSql))
    ,

    // ---- IVF x PQ: the production ANN layout --------------------------------
    // q112 (IVF multi-probe) partitions the corpus; q129 (PQ/ADC)
    // compresses it; this is their composition — the layout FAISS calls
    // IVFPQ (here without residual encoding): every vector carries a
    // coarse cell id AND M PQ codes, a query ranks the broadcast coarse
    // centroids, keeps nprobe=2 cells, and ADC-scans ONLY those cells'
    // residents. The plan is the point: the broadcast probe join prunes
    // cells BEFORE the ADC projection, so at 100 TB the scan cost is
    // (nprobe/ncells) x corpus over code columns alone — the float
    // vectors are read once at index-build time, never per query. Every
    // stage reuses an already-verified piece (q112's assignment + probe
    // selection, q129's training/encode/table), so the compare stays
    // hash-exact end to end.
    Q("q132_ivf_pq",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val clean = e.filter(col("embedding").isNotNull)
        // coarse quantizer: 16 broadcast centroids, row-local cosine argmax
        val codebook = coarseCodebook(e)
        // index build: cell id + PQ codes per vector, all row-local
        val cbs = graft.ml.Pq.fit(s, e, m = 4, k = 4, iters = 2)
        val indexed = assignCells(graft.ml.Pq.encode(clean, cbs), codebook)
        // per-query work: rank 16 centroids, keep 2 probe cells
        val probes = probeRows(e, codebook, qid = 42, nprobe = 2)
          .select(col("q_cell"))
        val q = clean.filter(col("vec_id") === 42)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        // probe-cell prune FIRST, then the code-only ADC projection
        indexed.join(broadcast(probes), col("cell") === col("q_cell"))
          .filter(col("vec_id") =!= 42)
          .select(col("vec_id"), col("cell"),
            concat_ws("|", col("codes")).as("codes"),
            graft.ml.Pq.adcDist(graft.ml.Pq.adcTable(q, cbs)).as("adc_dist"))
          .orderBy(col("adc_dist"), col("vec_id"))
          .limit(10)
      },
      Some(ivfPqOracleSql))
    ,

    // ---- hybrid retrieval: BM25 + vector ranks fused by RRF ----------------
    // The production retrieval stack is rarely one arm: lexical BM25
    // (q118's log-free formulation) and embedding cosine (q40's brute
    // baseline) each retrieve top-15 for the same query (doc 0's terms /
    // doc 0's embedding, self excluded from both arms), and the lists fuse
    // by Reciprocal Rank Fusion: score = sum over arms of 1/(60 + rank).
    // RRF needs only the integer RANKS — no score calibration between
    // arms — and 1/(60+r) is a single IEEE division both engines round
    // identically, so the fusion is hash-exact. Each arm's rank window
    // runs over its own 15-row top-k (driver-side tiny); the corpus-side
    // work is exactly q118's and q40's already-audited shapes.
    Q("q133_rrf_fusion",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
        val e = t(s, dir, "embeddings")
        val bm = graft.curation.Curation.bm25(
            docs.filter(col("doc_id") =!= 0), Seq("spark", "window", "hash"),
            topK = 15)
          .select(col("doc_id"),
            row_number().over(Window.orderBy(desc("score"), col("doc_id")))
              .cast("long").as("bm25_rank"))
        val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val vec = e.crossJoin(broadcast(qv))
          .filter(col("vec_id") =!= 0)
          .withColumn("sim", dot("embedding", "qv") / (norm("embedding") * norm("qv")))
          .orderBy(desc("sim"), col("vec_id"))
          .limit(15)
          .select(col("vec_id").as("doc_id"),
            row_number().over(Window.orderBy(desc("sim"), col("vec_id")))
              .cast("long").as("vec_rank"))
        bm.join(vec, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("bm25_rank"), col("vec_rank"),
            (coalesce(lit(1.0) / (lit(60L) + col("bm25_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60L) + col("vec_rank")), lit(0.0))).as("rrf"))
          .orderBy(desc("rrf"), col("doc_id"))
          .limit(10)
      },
      Some(s"""
        WITH tk AS (
          SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS dl,
            unnest(list_filter(string_split_regex(trim(text), '\\s+'),
              t -> t IN ('spark', 'window', 'hash'))) AS term
          FROM documents WHERE doc_id <> 0),
        tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2, 3),
        stats AS (
          SELECT COUNT(*) AS n,
            CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) / COUNT(*) AS avgdl
          FROM documents WHERE doc_id <> 0),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        contrib AS (
          SELECT doc_id,
            CAST(((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
              * ((CAST(tf AS DOUBLE) * 2.2)
                 / (CAST(tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
              AS DECIMAL(24,10)) AS c
          FROM tf JOIN df USING (term), stats),
        bm_top AS (
          SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
          FROM (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score
                FROM contrib GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 15)),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        vec_top AS (
          SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS vec_rank
          FROM (SELECT vec_id AS doc_id,
                  $dotSql / (${normSql("embedding")} * ${normSql("qv")}) AS sim
                FROM embeddings, q WHERE vec_id <> 0
                ORDER BY sim DESC, vec_id LIMIT 15))
        SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id, b.bm25_rank, v.vec_rank,
          COALESCE(CAST(1 AS DOUBLE) / (60 + b.bm25_rank), CAST(0 AS DOUBLE))
            + COALESCE(CAST(1 AS DOUBLE) / (60 + v.vec_rank), CAST(0 AS DOUBLE)) AS rrf
        FROM bm_top b FULL OUTER JOIN vec_top v ON b.doc_id = v.doc_id
        ORDER BY rrf DESC, doc_id LIMIT 10"""))
    ,

    // ---- ANN quality dial: recall@10 of IVF multi-probe vs brute force -----
    // An ANN index without a measured recall number is a guess — this is
    // the evaluation query an engineer runs before turning the nprobe /
    // cell-count dials in production. Ground truth = q40's brute cosine
    // top-10; candidate = q112's IVF nprobe=2 multi-probe top-10 (same
    // query vector 42, self excluded); output is one row: k, hits, recall,
    // and the missed ids — all integer/ratio arithmetic, hash-exact.
    // Scale shape: both arms are already-audited plans (brute =
    // TakeOrderedAndProject single pass; IVF = broadcast probe join); the
    // final comparison joins two 10-row frames.
    Q("q134_ann_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val codebook = coarseCodebook(e)
        val assigned = assignCells(
          e.select(col("vec_id"), col("embedding")), codebook)
        val probes = probeRows(e, codebook, qid = 42, nprobe = 2)
        val ivf = assigned.join(broadcast(probes), col("cell") === col("q_cell"))
          .filter(col("vec_id") =!= 42)
          .withColumn("sim",
            graft.ml.VecOps.dot(col("embedding"), col("q_emb")) / (col("v_nrm") * col("q_nrm")))
          .orderBy(desc("sim"), col("vec_id"))
          .limit(10)
          .select(col("vec_id"), lit(1L).as("hit"))
        val qv = e.filter(col("vec_id") === 42)
          .select(col("embedding").as("q_emb"),
            graft.ml.VecOps.norm(col("embedding")).as("q_nrm"))
        val brute = e.crossJoin(broadcast(qv))
          .filter(col("vec_id") =!= 42)
          .withColumn("sim",
            graft.ml.VecOps.dot(col("embedding"), col("q_emb")) / (norm("embedding") * col("q_nrm")))
          .orderBy(desc("sim"), col("vec_id"))
          .limit(10)
          .select(col("vec_id"))
        brute.join(ivf, Seq("vec_id"), "left_outer")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
            // sort numerically FIRST, stringify after (lexicographic sort
            // of "10" < "9" would diverge from the oracle's ORDER BY)
            concat_ws(",", transform(
              sort_array(collect_list(when(col("hit").isNull, col("vec_id")))),
              _.cast("string"))).as("missed"))
          .select(lit(10L).as("k"), col("hits"),
            (col("hits").cast("double") / lit(10.0)).as("recall"), col("missed"))
      },
      Some(s"""
        WITH ${ivfOracleCtes(qVecId = 42, nprobe = 2)},
        ivf AS (
          SELECT vec_id, 1 AS hit FROM (
            SELECT a.vec_id,
              list_reduce(list_transform(range(1, 65),
                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), (x, y) -> x + y)
                / (a.v_nrm * q.q_nrm) AS sim
            FROM assigned a JOIN probes p ON a.cell = p.q_cell, qv q
            WHERE a.vec_id <> 42
            ORDER BY sim DESC, a.vec_id LIMIT 10)),
        brute AS (
          SELECT n.vec_id,
            list_reduce(list_transform(range(1, 65),
              i -> CAST(n.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), (x, y) -> x + y)
              / (n.v_nrm * q.q_nrm) AS sim
          FROM nrm n, qv q WHERE n.vec_id <> 42
          ORDER BY sim DESC, n.vec_id LIMIT 10)
        SELECT CAST(10 AS BIGINT) AS k,
          CAST(SUM(COALESCE(i.hit, 0)) AS BIGINT) AS hits,
          CAST(CAST(SUM(COALESCE(i.hit, 0)) AS DOUBLE) / CAST(10 AS DOUBLE) AS DOUBLE) AS recall,
          COALESCE(string_agg(CASE WHEN i.hit IS NULL
            THEN CAST(b.vec_id AS VARCHAR) END, ',' ORDER BY b.vec_id), '') AS missed
        FROM brute b LEFT JOIN ivf i ON b.vec_id = i.vec_id"""))
    ,

    // ---- ADC shortlist + exact re-rank: the two-stage search closer --------
    // Production PQ search is never ADC-only: compressed distances carry
    // quantization error, so the standard recipe (FAISS's default) ADC-scans
    // to a k'=30 SHORTLIST, then re-scores just those rows against the raw
    // floats and returns the exact top-10. The scale point is the float
    // fetch: the shortlist is a bounded constant (k'), so its ids are
    // collected and pushed down as an In() filter — at 100 TB the re-rank
    // is a 30-row point multi-get against the vector store (row-group
    // stats prune the scan), never a second corpus pass. Output carries
    // both ranks, so the row IS the measurement of what re-ranking moved.
    Q("q144_adc_rerank",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "embeddings")
        val clean = e.filter(col("embedding").isNotNull)
        val cbs = graft.ml.Pq.fit(s, e, m = 4, k = 4, iters = 2)
        val coded = graft.ml.Pq.encode(clean, cbs)
        val q = clean.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        // stage 1: code-only ADC scan -> 30-row shortlist (collected once —
        // bounded by construction — so stage 2 neither recomputes the PQ
        // lineage nor scans the corpus for 30 rows)
        val shortRows = graft.ml.Pq
          .adcTopK(coded.filter(col("vec_id") =!= 0),
            graft.ml.Pq.adcTable(q, cbs), topK = 30)
          .select(col("vec_id"), col("adc_dist"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val shortDf = shortRows.toDF("vec_id", "adc_dist")
          .withColumn("adc_rank", row_number()
            .over(Window.orderBy(col("adc_dist"), col("vec_id"))).cast("long"))
        // stage 2: exact cosine over the pushed-down 30-row float fetch
        val qv = clean.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"),
            graft.ml.VecOps.norm(col("embedding")).as("q_nrm"))
        clean.filter(col("vec_id").isInCollection(shortRows.map(_._1)))
          .crossJoin(broadcast(qv))
          .join(broadcast(shortDf), "vec_id")
          .withColumn("sim",
            dot("embedding", "qv") / (norm("embedding") * col("q_nrm")))
          .withColumn("exact_rank", row_number()
            .over(Window.orderBy(desc("sim"), col("vec_id"))).cast("long"))
          .filter(col("exact_rank") <= 10)
          .select("vec_id", "adc_rank", "exact_rank", "adc_dist", "sim")
          .orderBy("exact_rank")
      },
      Some(adcRerankOracleSql))
    ,

    // ---- SemDeDup: semantic dedup inside coarse-quantizer cells -----------
    // The published SemDeDup recipe: cluster the corpus embeddings, then
    // inside each cluster drop every vector whose cosine to ANY lower-id
    // member (kept or itself dropped — the official batch formulation,
    // which over-drops chains rather than re-ranking them) exceeds the
    // threshold — near-duplicate MEANINGS, not just near-duplicate bytes. Cells reuse q77's zero-shuffle
    // row-local argmax over the broadcast 16-centroid codebook; the
    // quadratic pair search is confined to a cell, which is the entire
    // point of the clustering step — at 100 TB the codebook grows to
    // ~100k cells (SemDeDup's published setting) so each cell stays a few
    // thousand vectors and the per-cell self-join stays bounded. The
    // report is the per-cell keep/drop ledger a curation run publishes.
    Q("q121_semdedup",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val codebook = e.filter(col("vec_id") < 16)
          .select(col("vec_id"), col("embedding").cast("array<double>"),
            graft.ml.VecOps.norm(col("embedding")))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
          .sortBy(_._1).toSeq
        graft.curation.Curation.semDeDupLedger(e, codebook)
      },
      Some(s"""
        WITH nrm AS (
          SELECT vec_id, embedding, ${normSql("embedding")} AS v_nrm FROM embeddings),
        centroids AS (
          SELECT vec_id AS c_id, embedding AS c_emb, v_nrm AS c_nrm
          FROM nrm WHERE vec_id < 16),
        assigned AS (
          SELECT vec_id, embedding, v_nrm, c_id AS cell FROM (
            SELECT n.vec_id, n.embedding, n.v_nrm, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(n.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), (x, y) -> x + y)
                  / (n.v_nrm * c.c_nrm) DESC, c.c_id) AS rn
            FROM nrm n CROSS JOIN centroids c) WHERE rn = 1),
        dropped AS (
          SELECT DISTINCT a.vec_id FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id > b.vec_id
          WHERE list_reduce(list_transform(range(1, 65),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
              / (a.v_nrm * b.v_nrm) >= 0.999)
        SELECT cell, COUNT(*) AS n_vectors,
          CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
          CAST(COUNT(*) - SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept
        FROM assigned LEFT JOIN dropped d USING (vec_id)
        GROUP BY 1 ORDER BY 1""")
    ),

    // ---- IVF x PQ under the TRAINED codebook: the production layout --------
    // q132 composes the layout with the first-16-vectors heuristic codebook;
    // this is the same composition with the coarse quantizer actually
    // TRAINED ([[graft.ml.KMeans.fitCodebook]], k=16, 2 Lloyd iterations —
    // the codebook q92 oracles): trained cells -> PQ codes -> trained-
    // centroid probe selection -> probe-pruned ADC scan. Plan shape is
    // identical to q132 (training happens index-build time, driver-side
    // k x dim state; the query path still broadcasts 2 narrow probe rows
    // and reads code columns only), so the 100-TB story carries over
    // unchanged — this query exists to prove the trained composition
    // end-to-end against an oracle that replays BOTH Lloyd loops.
    Q("q148_ivf_pq_trained",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val clean = e.filter(col("embedding").isNotNull)
        // index build: TRAINED coarse cells + PQ codes per vector
        val codebook = graft.ml.KMeans.fitCodebook(s, e, k = 16, iters = 2)
        val cbs = graft.ml.Pq.fit(s, e, m = 4, k = 4, iters = 2)
        val indexed = assignCells(graft.ml.Pq.encode(clean, cbs), codebook)
        // per-query work: rank the 16 trained centroids, keep 2 probe cells
        val probes = probeRowsTrained(e, codebook, qid = 42, nprobe = 2)
          .select(col("q_cell"))
        val q = clean.filter(col("vec_id") === 42)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        // probe-cell prune FIRST, then the code-only ADC projection
        indexed.join(broadcast(probes), col("cell") === col("q_cell"))
          .filter(col("vec_id") =!= 42)
          .select(col("vec_id"), col("cell"),
            concat_ws("|", col("codes")).as("codes"),
            graft.ml.Pq.adcDist(graft.ml.Pq.adcTable(q, cbs)).as("adc_dist"))
          .orderBy(col("adc_dist"), col("vec_id"))
          .limit(10)
      },
      Some(ivfPqTrainedOracleSql))
    ,

    // ---- the PERSISTED index: build once, query by partition pruning ------
    // q148 times train+encode+query as one plan; this is the production
    // split ([[graft.ml.AnnIndex]]): build writes (vec_id, codes, cell)
    // partitionBy(cell) — one directory per inverted list — plus sidecar
    // codebooks; query loads the bounded codebooks, turns the nprobe
    // probe cells into PARTITION filters, and ADC-scans only those
    // directories. Identical arithmetic end to end, so the same oracle
    // that checks q148 checks the round-tripped index — and the spec
    // asserts the query path never scans the float corpus (two pushed
    // point lookups only) and prunes partitions by cell.
    Q("q154_ann_index_query",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val path = ensureIndex(s, dir)
        graft.ml.AnnIndex.query(s, e, path, qid = 42, nprobe = 2, topK = 10)
      },
      Some(ivfPqTrainedOracleSql))
    ,

    // ---- DISTRIBUTED batch ANN search over the persisted index -------------
    // q154 serves ONE query vector per invocation with two bounded driver
    // collects per call; a training-data pipeline searches MILLIONS of
    // query vectors (dedup against an index, retrieval mixing), where
    // per-query driver round-trips cannot scale. This is the distributed
    // composition ([[graft.ml.AnnIndex.batchQuery]]): every vec_id ≡ 42
    // (mod 100) is a query, probe cells are picked ROW-LOCALLY (the 16
    // literal-centroid cosines array_sort'ed — q112's argmax shape
    // generalized to top-nprobe, no crossJoin/window/shuffle), the M×K
    // ADC table rides on each query row, ONE equi-join on cell matches
    // queries to their inverted lists, and per-query top-10 comes from the
    // bounded-buffer TopKPerGroup aggregator (at most k rows per query per
    // partition cross the shuffle — never a window sort). The spec asserts
    // ONE join and no per-query jobs, and bit-equality with q154 on query
    // id 42. Index build is deliberately in the timed region, same
    // attribution as q154 (COVERAGE).
    Q("q155_ann_batch_query",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val path = ensureIndex(s, dir)
        graft.ml.AnnIndex
          .batchQuery(s, e.filter(col("vec_id") % 100 === 42),
            path, nprobe = 2, topK = 10)
          .orderBy("q_id", "adc_dist", "vec_id")
      },
      Some(annBatchOracleSql))
    ,

    // ---- dedup against the index: the corpus queries itself ----------------
    // THE pipeline use case batch ANN exists for (BASELINE "similarity
    // search" at 100 TB): every corpus vector searches the persisted index
    // and is DROPPED when a lower-id vector sits within eps of it in its
    // ADC top-10 — keep-first dedup, the embedding sibling of q39's
    // MinHash keep-list. One distributed plan for all 500/2000 queries
    // (corpus-as-queries is exactly where q154's per-call driver collects
    // would have needed one round-trip per corpus row); the dedup window
    // is the ANN top-10 BY DESIGN — the same approximation a production
    // SemDeDup/embedding-dedup pass makes, and the oracle replays the
    // identical rule, so approximate recall never means approximate
    // correctness. Index build deliberately in the timed region (q154's
    // attribution).
    Q("q158_ann_index_dedup",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val path = ensureIndex(s, dir)
        val nn = graft.ml.AnnIndex.batchQuery(s, e, path, nprobe = 2, topK = 10)
        val dup = nn
          .filter(col("vec_id") < col("q_id") && col("adc_dist") <= 0.95)
          .select(col("q_id").as("vec_id")).distinct()
          .withColumn("is_dup", lit(1L))
        e.filter(col("embedding").isNotNull).select(col("vec_id"))
          .join(dup, Seq("vec_id"), "left_outer")
          .select(col("vec_id"),
            when(col("is_dup") === 1L, "dropped").otherwise("kept").as("verdict"))
          .orderBy("vec_id")
      },
      Some(annDedupOracleSql))
    ,

    // ---- hard-negative mining over the persisted index --------------------
    // The contrastive-training op: for each anchor vector, the nearest
    // neighbors that carry a DIFFERENT label are its hard negatives —
    // close in embedding space, wrong by supervision, exactly the pairs a
    // retrieval/embedding trainer wants in the denominator. Formulation:
    // ADC top-10 from the persisted index (q155's one-join batch plan),
    // label-joined on both ends (narrow (vec_id, label) exchanges),
    // same-label candidates excluded, re-ranked per anchor, top-5 kept.
    // Retrieve-then-filter is the standard approximation (a saturated
    // same-label top-10 yields fewer than 5 negatives — by design, and
    // the oracle replays the same rule). Per-anchor candidate sets are
    // bounded by topK, so the re-rank window never sees more than 10
    // rows per key at ANY corpus size.
    Q("q165_hard_negatives",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "embeddings")
        val path = ensureIndex(s, dir)
        val nn = graft.ml.AnnIndex
          .batchQuery(s, e.filter(col("vec_id") % 100 === 42),
            path, nprobe = 2, topK = 10)
        val lab = e.select(col("vec_id"), col("label"))
        val w = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
        nn.join(lab.select(col("vec_id").as("q_id"), col("label").as("q_label")),
            Seq("q_id"))
          .join(lab, Seq("vec_id"))
          .filter(col("label") =!= col("q_label"))
          .withColumn("neg_rank", row_number().over(w).cast("long"))
          .filter(col("neg_rank") <= 5)
          .select(col("q_id"), col("vec_id").as("neg_id"),
            col("neg_rank"), col("adc_dist"))
          .orderBy("q_id", "neg_rank")
      },
      Some(hardNegativeOracleSql))
    ,

    // ---- FILTERED batch ANN: the predicate inside the search --------------
    // "Search only within label 3" — the metadata-filtered retrieval every
    // vector store grows: the allowed-id set PRE-filters the index rows
    // (a semi-join before ADC scoring, so excluded vectors never pay a
    // distance), and the per-query top-10 is computed WITHIN the
    // restriction. Post-filtering a full-corpus top-k (q165's shape,
    // right for per-query predicates) comes back short whenever the
    // unrestricted neighborhood is dominated by excluded vectors; the
    // pre-filter guarantees k allowed results when the probed cells hold
    // them. Same one-join batch plan as q155.
    Q("q169_filtered_ann",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val path = ensureIndex(s, dir)
        val allowed = e.filter(col("label") === 3).select(col("vec_id"))
        graft.ml.AnnIndex
          .batchQuery(s, e.filter(col("vec_id") % 100 === 42),
            path, nprobe = 2, topK = 10, restrict = Some(allowed))
          .orderBy("q_id", "adc_dist", "vec_id")
      },
      Some(filteredAnnOracleSql))
    ,

    // ---- index HEALTH: cell-occupancy drift of the persisted ANN index ----
    // The retrain trigger: an IVF index serves well while arriving vectors
    // distribute over its cells the way the training corpus did; when the
    // occupancy histogram drifts, probe pruning degrades and the codebook
    // is stale. Reference = the persisted index's cell occupancy (read
    // from its partition layout); arrivals = a fresh slice (vec_id % 3)
    // assigned under the SAVED codebooks — exactly the append path's
    // assignment; the report is ops/Drift's algebra over (feature='cell',
    // bin=cell), the same log-free l1/chi2 terms a dashboard already
    // consumes for q159. Cells are the histogram bins, so the whole check
    // is one ~k-group aggregate per side — constant state at any corpus
    // size, no float corpus read on the reference side.
    Q("q170_index_drift",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val path = ensureIndex(s, dir)
        val cb = graft.ml.AnnIndex.loadCodebooks(s, path)
        val refCounts = graft.ml.AnnIndex.readIndex(s, path)
          .groupBy(col("cell").cast("long").as("bin"))
          .agg(count(lit(1)).as("n")).withColumn("feature", lit("cell"))
        val arrivals = e
          .filter(col("vec_id") % 3 === 0 && col("embedding").isNotNull)
          .withColumn("v_nrm", graft.ml.VecOps.norm(col("embedding")))
          .withColumn("bin", graft.ml.VecOps
            .argmaxCell(col("embedding"), col("v_nrm"), cb.coarse).cast("long"))
          .groupBy("bin").agg(count(lit(1)).as("n"))
          .withColumn("feature", lit("cell"))
        graft.ops.Drift.report(graft.ops.Drift.mergeCounts(
          refCounts.select("feature", "bin", "n"),
          arrivals.select("feature", "bin", "n")))
      },
      Some(s"""
        WITH $trainedIvfCtes,
        refc AS (
          SELECT CAST(cell AS BIGINT) AS bin, COUNT(*) AS n_ref
          FROM assignF WHERE embedding IS NOT NULL GROUP BY 1),
        newc AS (
          SELECT CAST(cell AS BIGINT) AS bin, COUNT(*) AS n_new
          FROM assignF WHERE embedding IS NOT NULL AND vec_id % 3 = 0
          GROUP BY 1),
        counts AS (
          SELECT COALESCE(r.bin, w.bin) AS bin,
            CAST(COALESCE(n_ref, 0) AS BIGINT) AS n_ref,
            CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
          FROM refc r FULL JOIN newc w ON r.bin = w.bin),
        tot AS (
          SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
            CAST(SUM(n_new) AS BIGINT) AS t_new FROM counts)
        SELECT 'cell' AS feature, bin, n_ref, n_new,
          CAST(n_ref AS DOUBLE) / t_ref AS share_ref,
          CAST(n_new AS DOUBLE) / t_new AS share_new,
          abs(CAST(n_ref AS DOUBLE) / t_ref - CAST(n_new AS DOUBLE) / t_new)
            AS l1_term,
          (CAST(n_ref AS DOUBLE) / t_ref - CAST(n_new AS DOUBLE) / t_new)
            * (CAST(n_ref AS DOUBLE) / t_ref - CAST(n_new AS DOUBLE) / t_new)
            / (CAST(n_ref AS DOUBLE) / t_ref + CAST(n_new AS DOUBLE) / t_new)
            AS chi2_term
        FROM counts, tot ORDER BY feature, bin"""))
    ,

    // ---- the streaming EMBEDDING ingest's VERDICT algebra, oracle-checked --
    // The vector sibling of q156: the store-backed embedding ingest loop
    // (ml/AnnIngest.annDedupIngestStream) decides per-arrival verdicts
    // against the persisted ANN index — previously spec-only. This is the
    // batch replay of a two-batch ingest, running the EXACT function the
    // stream runs per micro-batch ([[graft.ml.AnnIngest.verdicts]] — both
    // arms through AnnIndex.searchRows, verdict priority dropped_vs_index
    // > dropped_in_batch > accepted): phase 1 ingests the even vec_ids
    // against an EMPTY index (in-batch dedup only), the index becomes
    // phase 1's ACCEPTED rows (exactly what the stream appends — build's
    // encode and append's encode are the same arithmetic), phase 2
    // ingests the odd ids against it. One row per vector: (vec_id,
    // phase, verdict). The live-stream spec (AnnIngestSpec) drives the
    // same ingest through the real foreachBatch loop and asserts verdict
    // equality with this replay — closing the q96/q156 batch/stream
    // symmetry for the third modality. Codebooks are trained ONCE on the
    // full corpus (build's timed region, q154's attribution), matching
    // the operational shape where a trained index serves many batches.
    Q("q179_ann_ingest_verdicts",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val path = ensureIndex(s, dir)
        val cb = graft.ml.AnnIndex.loadCodebooks(s, path)
        val allRows = graft.ml.AnnIndex.readIndex(s, path)
        val clean = e.filter(col("embedding").isNotNull)
          .select(col("vec_id"), col("embedding"))
        val b1 = clean.filter(col("vec_id") % 2 === 0)
        val b2 = clean.filter(col("vec_id") % 2 === 1)
        // phase-1 verdicts feed BOTH the output and the store definition —
        // persist so the two-arm search pass runs once, not per consumer.
        // Released by the harness's per-query clearCache (the q156/q171
        // contract; the frame is verdict rows — ids and strings, tiny)
        val v1 = graft.ml.AnnIngest
          .verdicts(s, b1, allRows.limit(0), cb, eps = 0.95, nprobe = 2, topK = 10)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val store1 = allRows.join(
          v1.filter(col("verdict") === "accepted").select("vec_id"),
          Seq("vec_id"), "left_semi")
        val v2 = graft.ml.AnnIngest
          .verdicts(s, b2, store1, cb, eps = 0.95, nprobe = 2, topK = 10)
        v1.withColumn("phase", lit(1L))
          .unionByName(v2.withColumn("phase", lit(2L)))
          .select("vec_id", "phase", "verdict")
          .orderBy("vec_id")
      },
      Some(annIngestOracleSql))
    ,

    // ---- batch ANN over the cell-BUCKETED index layout ---------------------
    // The extreme-query-count arm made real: q155's co-partitioned search
    // (broadcastProbes = false) re-shuffled the partitioned-parquet index
    // on every query batch; here the index rows are materialized as a
    // cell-bucketed table (AnnIndex.writeBucketedIndex — the banded
    // signature store discipline) and the SAME search consumes its
    // bucketing with ZERO index-side exchange (plan-asserted in
    // AnnIndexSpec). Results are bit-equal to q155's broadcast path, so
    // the oracle IS q155's oracle — one replay checks both layouts.
    Q("q181_ann_bucketed_batch",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val path = ensureIndex(s, dir)
        val table = "graft_ann_bucketed"
        s.sql(s"DROP TABLE IF EXISTS $table")
        // a crashed earlier run can leave the warehouse location behind
        // with no catalog entry (LOCATION_ALREADY_EXISTS on recreate)
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        graft.ml.AnnIndex.writeBucketedIndex(s, path, table, buckets = 8)
        graft.ml.AnnIndex
          .batchQuery(s, e.filter(col("vec_id") % 100 === 42),
            path, nprobe = 2, topK = 10, broadcastProbes = false,
            bucketedTable = Some(table))
          .orderBy("q_id", "adc_dist", "vec_id")
      },
      Some(annBatchOracleSql))
    ,

    // ---- retrain-and-swap: the q170 trigger's ACTION, oracle-checked ------
    // Operational loop closed end to end: a STALE index (trained on the
    // vec_id % 4 slice) serves until drift accumulates; rebuildAndSwap
    // retrains codebooks on the full corpus and swaps the index ROOT
    // through the rename-rename discipline (codebooks + cells move as one
    // directory — no reader can pair new codebooks with old cells; crash
    // recovery spec'd in AnnIndexSpec). Because build is bit-reproducible,
    // the post-swap index IS a fresh full build, so q154's trained-replay
    // oracle checks the swapped index exactly — a half-swapped or
    // stale-codebook state would hash-mismatch every distance.
    Q("q182_index_rebuild_swap",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val path = annIndexPath(s, dir) + "_rebuild"
        graft.ml.AnnIndex.build(s, e.filter(col("vec_id") % 4 === 0), path)
        graft.ml.AnnIndex.rebuildAndSwap(s, e, path)
        graft.ml.AnnIndex.query(s, e, path, qid = 42, nprobe = 2, topK = 10)
      },
      Some(ivfPqTrainedOracleSql))
    ,

    // ---- right-to-be-forgotten propagation ---------------------------------
    // The compliance op a production vector store cannot skip: every
    // vec_id ≡ 3 (mod 10) is deleted from a freshly built index via
    // [[graft.ml.AnnIndex.forget]] — per-cell anti-join rewrites through
    // the staged swap, untouched cells never read. The oracle replays
    // the trained assignment over the corpus MINUS the forget set and
    // counts per cell, so a single forgotten row surviving (or an
    // innocent row lost) fails the count of its cell.
    Q("q208_ann_index_forget",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val path = annIndexPath(s, dir) + "_forget"
        graft.ml.AnnIndex.build(s, e, path)
        graft.ml.AnnIndex.forget(s, path,
          e.filter(col("vec_id") % 10 === 3).select("vec_id"))
        graft.ml.AnnIndex.readIndex(s, path)
          .groupBy(col("cell").cast("int").as("cell"))
          .agg(count(lit(1)).as("n_vectors"))
          .orderBy("cell")
      },
      Some(s"""
        WITH $trainedIvfCtes
        SELECT CAST(cell AS INT) AS cell, COUNT(*) AS n_vectors
        FROM assignF WHERE vec_id % 10 <> 3
        GROUP BY 1 ORDER BY 1"""))
    ,

    // ---- per-dimension embedding moments (feature normalization) -----------
    // The stats pass before z-score standardization / whitening — the
    // feature-prep step every embedding pipeline runs before training on
    // vectors. Values are quantized to 22 fractional bits ROW-LOCALLY
    // (floor(x * 2^22) — float32 inputs cast exactly to double, the
    // product and floor are IEEE-identical in any engine), so the
    // per-dim count/sum/sum-of-squares are EXACT longs: at 64 dims the
    // whole reduction is a 64-group aggregate whose partials collapse
    // map-side — the explode never reaches the exchange. Derived
    // mean/E[x^2] milli columns are fixed-order IEEE folds over those
    // exact sums (both engines evaluate the identical double expression).
    Q("q210_embedding_dim_stats",
      (s, dir) => {
        val S = (1L << 22).toDouble
        t(s, dir, "embeddings").filter(col("embedding").isNotNull)
          .select(posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("dim"),
            floor(col("x").cast("double") * S).cast("long").as("e"))
          .groupBy("dim")
          .agg(count(lit(1)).as("n"), sum("e").as("sum_e"),
            sum(col("e") * col("e")).as("sum_e2"))
          .select(col("dim"), col("n"), col("sum_e"), col("sum_e2"),
            floor(col("sum_e").cast("double") * 1000d
              / (col("n").cast("double") * S)).cast("long").as("mean_milli"),
            floor(col("sum_e2").cast("double") * 1000d
              / (col("n").cast("double") * S * S)).cast("long").as("ex2_milli"))
          .orderBy("dim")
      },
      Some("""
        WITH x AS (
          SELECT i - 1 AS dim,
            CAST(floor(CAST(embedding[i] AS DOUBLE) * 4194304.0) AS BIGINT) AS e
          FROM embeddings, UNNEST(generate_series(1, 64)) AS t(i)
          WHERE embedding IS NOT NULL)
        SELECT CAST(dim AS INT) AS dim, COUNT(*) AS n,
          CAST(SUM(e) AS BIGINT) AS sum_e,
          CAST(SUM(e * e) AS BIGINT) AS sum_e2,
          CAST(floor(CAST(CAST(SUM(e) AS BIGINT) AS DOUBLE) * 1000.0
            / (CAST(COUNT(*) AS DOUBLE) * 4194304.0)) AS BIGINT) AS mean_milli,
          CAST(floor(CAST(CAST(SUM(e * e) AS BIGINT) AS DOUBLE) * 1000.0
            / (CAST(COUNT(*) AS DOUBLE) * 4194304.0 * 4194304.0)) AS BIGINT)
            AS ex2_milli
        FROM x GROUP BY dim ORDER BY dim"""))
    ,

    // ---- incremental cell split -------------------------------------------
    // The maintenance tier between append (no structural change) and
    // q182's full rebuild: ONE hot cell (max occupancy, tie-break
    // smallest id — the q170 drift check's pointer) splits into two
    // sub-centroids trained over just its residents (k=2, same Lloyd
    // arithmetic as the full build), children rewritten through the
    // journaled staging/swap so a crash at any instant rolls back whole
    // (AnnIndexSpec). PQ codes never change, so a full-probe search
    // after the split is bit-identical — the spec asserts that; this
    // oracle replays the SPLIT ASSIGNMENT itself: full coarse training,
    // hot-cell choice, 2-means over residents, and the child membership
    // counts under the parent-keeps-smaller-init relabeling.
    Q("q192_cell_split",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val path = annIndexPath(s, dir) + "_split"
        graft.ml.AnnIndex.build(s, e, path)
        val hot = graft.ml.AnnIndex.hottestCell(s, path)
        val r = graft.ml.AnnIndex.splitCell(s, e, path, hot)
        Seq((r.parentCell, r.newCell, r.parentMembers, r.keptMembers,
          r.movedMembers)).toDF("parent_cell", "new_cell",
          "parent_members", "kept_members", "moved_members")
      },
      Some(splitOracleSql))
    ,

    // ---- SQ8 scalar-quantized search --------------------------------------
    // The third compression tier beside PQ (q129) and sign-bit LSH
    // (q41): every dimension quantizes independently to 8 bits over its
    // corpus [min, max] (the faiss SQ8 layout) — 4x smaller than
    // float32, no codebook training at all (two narrow aggregates), far
    // simpler than PQ at better per-dim fidelity. Training is
    // arithmetic-FREE (min/max over identical float values — exact in
    // any engine); encode and the asymmetric distance are short
    // fixed-order IEEE chains the oracle replays verbatim, so the
    // compare is hash-exact (the WordPiece-score discipline). Search
    // moves 64-byte code rows, never 256-byte float vectors.
    Q("q197_sq8_ann",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val p = graft.ml.Sq8.fit(e)
        val q = e.filter(col("vec_id") === 42 && col("embedding").isNotNull)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        graft.ml.Sq8.encode(e, p)
          .filter(col("vec_id") =!= 42)
          .select(col("vec_id"),
            md5(concat_ws("|", col("codes"))).as("codes_md5"),
            graft.ml.Sq8.dist(q, p).as("sq8_dist"))
          .orderBy(col("sq8_dist"), col("vec_id"))
          .limit(10)
      },
      Some(sq8OracleSql))
    ,

    // ---- Matryoshka two-stage search ---------------------------------------
    // The MRL retrieval pattern (Kusupati et al., NeurIPS 2022):
    // embeddings trained so PREFIXES are themselves usable — stage 1
    // shortlists 30 candidates on the first 16 dimensions only (4x less
    // arithmetic and I/O per candidate; with a prefix-truncated column
    // the scan reads a quarter of the bytes), stage 2 re-ranks the
    // shortlist exactly on all 64. q144's shortlist/re-rank shape with
    // dimension truncation instead of PQ compression as the cheap
    // stage. Both distances are fixed-order IEEE folds replayed
    // verbatim; output carries both so the artifact shows where the
    // prefix ordering and the exact ordering disagree.
    Q("q200_matryoshka_search",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 42 && col("embedding").isNotNull)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        val qL = lit(q.toArray)
        def l2(dims: Int) = aggregate(
          sequence(lit(1), lit(dims)), lit(0.0),
          (acc, i) => {
            val d = try_element_at(col("embedding"), i.cast("int")).cast("double") -
              element_at(qL, i.cast("int"))
            acc + d * d
          })
        val short = e.filter(col("embedding").isNotNull && col("vec_id") =!= 42)
          .select(col("vec_id"), l2(16).as("prefix_dist"), col("embedding"))
          .orderBy(col("prefix_dist"), col("vec_id")).limit(30)
        short
          .select(col("vec_id"), col("prefix_dist"), l2(64).as("full_dist"))
          .orderBy(col("full_dist"), col("vec_id")).limit(10)
      },
      Some("""
        WITH qv AS (
          SELECT list_transform(range(1, 65),
            i -> CAST(embedding[i] AS DOUBLE)) AS q
          FROM embeddings WHERE vec_id = 42),
        pre AS (
          SELECT e.vec_id, e.embedding,
            list_reduce(list_transform(range(1, 17), i ->
              (CAST(e.embedding[i] AS DOUBLE) - q.q[i])
              * (CAST(e.embedding[i] AS DOUBLE) - q.q[i])),
              (x, y) -> x + y) AS prefix_dist
          FROM embeddings e, qv q
          WHERE e.embedding IS NOT NULL AND e.vec_id <> 42),
        short AS (
          SELECT vec_id, embedding, prefix_dist FROM pre
          ORDER BY prefix_dist, vec_id LIMIT 30)
        SELECT s.vec_id, s.prefix_dist,
          list_reduce(list_transform(range(1, 65), i ->
            (CAST(s.embedding[i] AS DOUBLE) - q.q[i])
            * (CAST(s.embedding[i] AS DOUBLE) - q.q[i])),
            (x, y) -> x + y) AS full_dist
        FROM short s, qv q
        ORDER BY full_dist, s.vec_id LIMIT 10"""))
    ,

    // ---- recall@10 under the TRAINED codebook ------------------------------
    // q134's one-row quality reduction with the IVF arm assigned and probed
    // via the trained centroids instead of the first-16-vectors heuristic —
    // the number an engineer actually reads before shipping the trained
    // index (training moves Voronoi boundaries, so recall must be
    // re-measured under the codebook that will serve).
    Q("q149_trained_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val codebook = graft.ml.KMeans.fitCodebook(s, e, k = 16, iters = 2)
        val assigned = assignCells(
          e.select(col("vec_id"), col("embedding")), codebook)
        val probes = probeRowsTrained(e, codebook, qid = 42, nprobe = 2)
        val ivf = assigned.join(broadcast(probes), col("cell") === col("q_cell"))
          .filter(col("vec_id") =!= 42)
          .withColumn("sim",
            graft.ml.VecOps.dot(col("embedding"), col("q_emb")) / (col("v_nrm") * col("q_nrm")))
          .orderBy(desc("sim"), col("vec_id"))
          .limit(10)
          .select(col("vec_id"), lit(1L).as("hit"))
        val qv = e.filter(col("vec_id") === 42)
          .select(col("embedding").as("q_emb"),
            graft.ml.VecOps.norm(col("embedding")).as("q_nrm"))
        val brute = e.crossJoin(broadcast(qv))
          .filter(col("vec_id") =!= 42)
          .withColumn("sim",
            graft.ml.VecOps.dot(col("embedding"), col("q_emb")) / (norm("embedding") * col("q_nrm")))
          .orderBy(desc("sim"), col("vec_id"))
          .limit(10)
          .select(col("vec_id"))
        brute.join(ivf, Seq("vec_id"), "left_outer")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
            concat_ws(",", transform(
              sort_array(collect_list(when(col("hit").isNull, col("vec_id")))),
              _.cast("string"))).as("missed"))
          .select(lit(10L).as("k"), col("hits"),
            (col("hits").cast("double") / lit(10.0)).as("recall"), col("missed"))
      },
      Some(trainedRecallOracleSql))
    ,

    // ---- two-stage-search quality: what the exact re-rank buys -------------
    // q144 emits the per-row rank movement; this collapses the same
    // shortlist/re-rank pipeline to the ONE row a quality dashboard plots:
    // recall@10 of the ADC-only top-10 vs the re-ranked top-10 against the
    // brute-force ground truth, plus how many ground-truth rows the re-rank
    // placed at their exact position. The corpus-side work is exactly
    // q129's coded scan + q144's 30-row pushed-down float fetch — the
    // reduction itself joins three <=30-row frames.
    Q("q150_rerank_recall",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "embeddings")
        val clean = e.filter(col("embedding").isNotNull)
        val cbs = graft.ml.Pq.fit(s, e, m = 4, k = 4, iters = 2)
        val coded = graft.ml.Pq.encode(clean, cbs)
        val q = clean.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        // stage 1: ADC shortlist (bounded 30-row collect, as in q144)
        val shortRows = graft.ml.Pq
          .adcTopK(coded.filter(col("vec_id") =!= 0),
            graft.ml.Pq.adcTable(q, cbs), topK = 30)
          .select(col("vec_id"), col("adc_dist"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val adc10 = shortRows.toDF("vec_id", "adc_dist")
          .withColumn("adc_pos", row_number()
            .over(Window.orderBy(col("adc_dist"), col("vec_id"))).cast("long"))
          .filter(col("adc_pos") <= 10)
          .select(col("vec_id"), lit(1L).as("adc_hit"))
        // stage 2: exact cosine over the pushed-down 30-row float fetch
        val qv = clean.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"),
            graft.ml.VecOps.norm(col("embedding")).as("q_nrm"))
        val rr10 = clean.filter(col("vec_id").isInCollection(shortRows.map(_._1)))
          .crossJoin(broadcast(qv))
          .withColumn("sim",
            dot("embedding", "qv") / (norm("embedding") * col("q_nrm")))
          .withColumn("rr_rank", row_number()
            .over(Window.orderBy(desc("sim"), col("vec_id"))).cast("long"))
          .filter(col("rr_rank") <= 10)
          .select(col("vec_id"), col("rr_rank"))
        // ground truth: brute cosine top-10 with exact positions
        val brute10 = e.crossJoin(broadcast(qv))
          .filter(col("vec_id") =!= 0)
          .withColumn("sim", dot("embedding", "qv") / (norm("embedding") * norm("qv")))
          .orderBy(desc("sim"), col("vec_id"))
          .limit(10)
          .withColumn("pos", row_number()
            .over(Window.orderBy(desc("sim"), col("vec_id"))).cast("long"))
          .select(col("vec_id"), col("pos"))
        brute10.join(adc10, Seq("vec_id"), "left_outer")
          .join(rr10, Seq("vec_id"), "left_outer")
          .agg(
            sum(coalesce(col("adc_hit"), lit(0L))).as("adc_hits"),
            sum(when(col("rr_rank").isNotNull, 1L).otherwise(0L)).as("rerank_hits"),
            sum(when(col("rr_rank") === col("pos"), 1L).otherwise(0L)).as("rank_matches"))
          .select(lit(10L).as("k"),
            col("adc_hits"),
            (col("adc_hits").cast("double") / lit(10.0)).as("adc_recall"),
            col("rerank_hits"),
            (col("rerank_hits").cast("double") / lit(10.0)).as("rerank_recall"),
            col("rank_matches"))
      },
      Some(rerankRecallOracleSql))
    ,

    // ---- batch ANN through spark.sql ONLY (q193's discipline) --------------
    // graft_ann_query is a registered table-valued function building the
    // EXACT AnnIndex.batchQuery plan (row-local probe ranking, ADC table
    // on the query row, one cell equi-join, bounded per-query top-k), so
    // the SQL route shares one code path — and therefore q155's oracle —
    // with the Scala entry point: same plan, same hash. This closes the
    // served-artifact gap: both persisted indexes (ANN here, inverted
    // index in q251) are now reachable without a line of Scala.
    Q("q250_sql_ann_query",
      (s, dir) => {
        val path = ensureIndex(s, dir)
        t(s, dir, "embeddings").filter(col("vec_id") % 100 === 42)
          .createOrReplaceTempView("graft_q250_queries")
        s.sql(s"""SELECT * FROM graft_ann_query('graft_q250_queries', '$path', 2, 10)
                  ORDER BY q_id, adc_dist, vec_id""")
      },
      Some(annBatchOracleSql))
  )

  /** DuckDB replay of the hot-cell SPLIT assignment (q192): the trained
    * k-means chain to `assignF`, the max-occupancy cell (ties: smallest
    * id), then a 2-means over ONLY that cell's residents — init = the
    * two smallest resident vec_ids, two Lloyd iterations with the same
    * exact decimal means and (sim DESC, c_id) argmax as the full build —
    * and the child membership counts. The child under the smaller init
    * id keeps the parent cell id (kept_members); the other becomes cell
    * 16 = max(c_id)+1 (moved_members).
    */
  private def splitOracleSql: String = {
    val S = "17592186044416.0"
    def sassign(cents: String, out: String) = s"""
        $out AS (
          SELECT vec_id, embedding, v_nrm, c_id AS scell FROM (
            SELECT r.vec_id, r.embedding, r.v_nrm, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY r.vec_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(r.embedding[i] AS DOUBLE) * c.centroid[i]), (x, y) -> x + y)
                  / (r.v_nrm * c.c_nrm) DESC, c.c_id) AS rn
            FROM resid r CROSS JOIN $cents c) WHERE rn = 1)"""
    def supdate(assigned: String, prev: String, tag: String) = s"""
        ssums$tag AS (
          SELECT scell, i, COUNT(*) AS n,
            CAST(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * $S AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sd
          FROM $assigned, (SELECT unnest(generate_series(1, 64)) AS i)
          GROUP BY scell, i),
        sraw$tag AS (
          SELECT p.c_id,
            CASE WHEN COUNT(s.i) = 0 THEN p.centroid
                 ELSE list(s.sd / s.n / $S ORDER BY s.i) END AS centroid
          FROM $prev p LEFT JOIN ssums$tag s ON s.scell = p.c_id
          GROUP BY p.c_id, p.centroid),
        scents$tag AS (
          SELECT c_id, centroid,
            sqrt(list_reduce(list_transform(centroid, x -> x * x), (x, y) -> x + y)) AS c_nrm
          FROM sraw$tag)"""
    s"""
        WITH $trainedIvfCtes,
        occ AS (SELECT cell, COUNT(*) AS members FROM assignF GROUP BY cell),
        hot AS (SELECT cell, members FROM occ ORDER BY members DESC, cell LIMIT 1),
        resid AS (
          SELECT a.vec_id, a.embedding, a.v_nrm
          FROM assignF a JOIN hot h ON a.cell = h.cell),
        sc0 AS (
          SELECT vec_id AS c_id,
            list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS centroid
          FROM (SELECT vec_id, embedding FROM resid ORDER BY vec_id LIMIT 2)),
        scents0 AS (
          SELECT c_id, centroid,
            sqrt(list_reduce(list_transform(centroid, x -> x * x), (x, y) -> x + y)) AS c_nrm
          FROM sc0),
        ${sassign("scents0", "sassign1")},
        ${supdate("sassign1", "scents0", "1")},
        ${sassign("scents1", "sassign2")},
        ${supdate("sassign2", "scents1", "2")},
        ${sassign("scents2", "sassignF")},
        kids AS (SELECT MIN(c_id) AS small_init FROM sc0)
        SELECT CAST(h.cell AS BIGINT) AS parent_cell,
          CAST(16 AS BIGINT) AS new_cell,
          CAST(h.members AS BIGINT) AS parent_members,
          CAST(SUM(CASE WHEN f.scell = k.small_init THEN 1 ELSE 0 END) AS BIGINT) AS kept_members,
          CAST(SUM(CASE WHEN f.scell <> k.small_init THEN 1 ELSE 0 END) AS BIGINT) AS moved_members
        FROM sassignF f, hot h, kids k
        GROUP BY h.cell, h.members"""
  }

  /** DuckDB replay of [[graft.ml.Sq8]] (q197): per-dim min/max (exact —
    * no arithmetic), the clamped floor encode, and the left-folded
    * reconstruction distance, each written with the identical IEEE
    * operation order as the Spark columns.
    */
  private def sq8OracleSql: String = {
    val recon = "(a.mns[i] + CAST(c.codes[i] AS DOUBLE) * (a.mxs[i] - a.mns[i]) / 255.0)"
    s"""
        WITH mm AS (
          SELECT i,
            MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
            MAX(CAST(embedding[i] AS DOUBLE)) AS mx
          FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
          WHERE embedding IS NOT NULL
          GROUP BY i),
        mma AS (
          SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM mm),
        enc AS (
          SELECT e.vec_id,
            list_transform(range(1, 65), i ->
              CASE WHEN a.mxs[i] = a.mns[i] THEN 0
                   ELSE LEAST(255, GREATEST(0,
                     CAST(floor((CAST(e.embedding[i] AS DOUBLE) - a.mns[i])
                       * 255.0 / (a.mxs[i] - a.mns[i])) AS INTEGER))) END) AS codes
          FROM embeddings e, mma a WHERE e.embedding IS NOT NULL),
        qv AS (
          SELECT list_transform(range(1, 65),
            i -> CAST(embedding[i] AS DOUBLE)) AS q
          FROM embeddings WHERE vec_id = 42)
        SELECT c.vec_id,
          md5(array_to_string(c.codes, '|')) AS codes_md5,
          list_reduce(list_transform(range(1, 65), i ->
            (q.q[i] - $recon) * (q.q[i] - $recon)), (x, y) -> x + y) AS sq8_dist
        FROM enc c, mma a, qv q WHERE c.vec_id <> 42
        ORDER BY sq8_dist, c.vec_id LIMIT 10"""
  }

  /** DuckDB replay of the full [[graft.ml.Pq]] pipeline (M=4 subspaces,
    * K=4, 2 L2 Lloyd iterations, ADC top-10 for vec 0's query): same init
    * (first 4 vectors' subvectors), same argmin order (dist ASC, c_id —
    * the Scala chained-`when` lowest-index tie-break), same exact decimal
    * means, same left-assoc distance folds, same fixed-m-order ADC sum.
    */
  private def pqOracleSql: String = pqOracleSqlFor(qVecId = 0)

  /** The q129 oracle with the ADC query vector as a parameter, so the
    * IVF×PQ composition (q132, query vec 42) replays the identical
    * train→encode→table pipeline.
    */
  private def pqOracleSqlFor(qVecId: Int): String = {
    val (perSubspace, codeJoins, codesStr, adcSum) = pqOracleParts(qVecId)
    s"""
        WITH $perSubspace
        SELECT e.vec_id, $codesStr AS codes, ($adcSum) AS adc_dist
        FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL) e
          $codeJoins
        ORDER BY adc_dist, e.vec_id LIMIT 10"""
  }

  /** Shared CTE fragments of the PQ replay: (per-subspace CTE chain,
    * code/table joins, pipe-joined code string, fixed-m-order ADC sum).
    */
  private def pqOracleParts(qVecId: Int): (String, String, String, String) = {
    val S = "17592186044416.0"
    val M = 4; val K = 4; val Iters = 2; val SubDim = 16
    def dist(sv: String, cent: String) =
      s"""list_reduce(list_transform(range(1, ${SubDim + 1}),
                  i -> ($sv[i] - $cent[i]) * ($sv[i] - $cent[i])), (x, y) -> x + y)"""
    def assign(m: Int, cents: String, out: String) = s"""
        $out AS (
          SELECT vec_id, sv, c_id AS cell FROM (
            SELECT s.vec_id, s.sv, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
                ${dist("s.sv", "c.centroid")} ASC, c.c_id) AS rn
            FROM sub$m s CROSS JOIN $cents c) WHERE rn = 1)"""
    def update(m: Int, assigned: String, prev: String, out: String) = s"""
        sums_$out AS (
          SELECT cell, i, COUNT(*) AS n,
            CAST(CAST(SUM(CAST(sv[i] * $S AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sd
          FROM $assigned, (SELECT unnest(generate_series(1, $SubDim)) AS i)
          GROUP BY cell, i),
        $out AS (
          SELECT p.c_id, CASE WHEN MAX(s.cell) IS NULL THEN p.centroid
            ELSE list(s.sd / s.n / $S ORDER BY s.i) END AS centroid
          FROM $prev p LEFT JOIN sums_$out s ON s.cell = p.c_id
          GROUP BY p.c_id, p.centroid)"""
    val perSubspace = (0 until M).map { m =>
      val off = m * SubDim
      val iterCtes = (1 to Iters).map(t =>
        assign(m, s"cents${m}_${t - 1}", s"assign${m}_$t") + "," +
          update(m, s"assign${m}_$t", s"cents${m}_${t - 1}", s"cents${m}_$t"))
        .mkString(",")
      s"""
        sub$m AS (
          SELECT vec_id,
            list_transform(range(${off + 1}, ${off + SubDim + 1}),
              i -> CAST(embedding[i] AS DOUBLE)) AS sv
          FROM embeddings WHERE embedding IS NOT NULL),
        cents${m}_0 AS (
          SELECT vec_id AS c_id, sv AS centroid FROM sub$m WHERE vec_id < $K),
        $iterCtes,
        codes$m AS (
          SELECT vec_id, c_id AS code$m FROM (
            SELECT s.vec_id, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
                ${dist("s.sv", "c.centroid")} ASC, c.c_id) AS rn
            FROM sub$m s CROSS JOIN cents${m}_$Iters c) WHERE rn = 1),
        tbl$m AS (
          SELECT c.c_id, ${dist("q.sv", "c.centroid")} AS t
          FROM cents${m}_$Iters c CROSS JOIN (SELECT sv FROM sub$m WHERE vec_id = $qVecId) q)"""
    }.mkString(",")
    val codeJoins = (0 until M).map(m =>
      s"JOIN codes$m c$m ON c$m.vec_id = e.vec_id JOIN tbl$m t$m ON t$m.c_id = c$m.code$m")
      .mkString("\n          ")
    val codesStr = (0 until M).map(m => s"c$m.code$m").mkString("concat_ws('|', ", ", ", ")")
    val adcSum = (0 until M).map(m => s"t$m.t").mkString(" + ")
    (perSubspace, codeJoins, codesStr, adcSum)
  }

  /** Per-run scratch location for the q154/q155 index builds: a STABLE
    * path under the per-JVM [[graft.io.Scratch]] root, keyed by the
    * dataset dir — stable across invocations within one JVM (the
    * ensure-built marker needs that), isolated across concurrent runs by
    * the root itself (each JVM mints its own), and deleted at JVM exit by
    * the root's shutdown hook (the applicationId-suffixed /tmp scheme
    * this replaced leaked one ~4 MB index tree per session, forever).
    */
  private def annIndexPath(s: SparkSession, dir: String): String = {
    val dirTag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    graft.io.Scratch.stableDir(s"graft_ann_index_$dirTag")
  }

  /** The ANN family's SHARED persisted index, built at most once per
    * (testdata dir, session): q154/q155/q158/q165/q169/q170/q179 all
    * build the IDENTICAL index (full embeddings table, default
    * hyperparameters), and [[graft.ml.AnnIndex.build]] is
    * bit-reproducible, so reuse is result-invisible — each query's rows
    * are exactly what a fresh build would return. The `_built_ok` marker
    * commits only a COMPLETED build (a crashed build leaves no marker and
    * rebuilds); the path lives under the per-JVM Scratch root, so no
    * state survives the run. The bench times one explicit build as its own row
    * (`ann_index_build`) before the registry pass — family rows then
    * measure pure search, which is the honest attribution (previously
    * each re-paid ~5 s of identical build inside its timed region).
    */
  private[graft] def ensureIndex(s: SparkSession, dir: String): String = {
    val path = annIndexPath(s, dir)
    val marker = new java.io.File(s"$path/_built_ok")
    if (!marker.exists()) {
      graft.ml.AnnIndex.build(s, t(s, dir, "embeddings"), path)
      marker.createNewFile()
      ()
    }
    path
  }

  /** [[pqOracleParts]] generalized to a BATCH of query vectors (q155): the
    * per-subspace ADC tables (tbl m) carry a q_id column — one table row
    * per (query, centroid) — and the code joins additionally match the
    * candidate's q_id, so ONE replay serves every query. This mirrors
    * [[graft.ml.AnnIndex.batchQuery]]'s table-rides-on-the-query-row
    * design; the distance folds are character-identical to
    * [[pqOracleParts]]'s, so single-query results agree bit-for-bit.
    */
  private def pqOraclePartsBatch(qWhere: String): (String, String, String) = {
    val S = "17592186044416.0"
    val M = 4; val K = 4; val Iters = 2; val SubDim = 16
    def dist(sv: String, cent: String) =
      s"""list_reduce(list_transform(range(1, ${SubDim + 1}),
                  i -> ($sv[i] - $cent[i]) * ($sv[i] - $cent[i])), (x, y) -> x + y)"""
    def assign(m: Int, cents: String, out: String) = s"""
        $out AS (
          SELECT vec_id, sv, c_id AS cell FROM (
            SELECT s.vec_id, s.sv, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
                ${dist("s.sv", "c.centroid")} ASC, c.c_id) AS rn
            FROM sub$m s CROSS JOIN $cents c) WHERE rn = 1)"""
    def update(m: Int, assigned: String, prev: String, out: String) = s"""
        sums_$out AS (
          SELECT cell, i, COUNT(*) AS n,
            CAST(CAST(SUM(CAST(sv[i] * $S AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sd
          FROM $assigned, (SELECT unnest(generate_series(1, $SubDim)) AS i)
          GROUP BY cell, i),
        $out AS (
          SELECT p.c_id, CASE WHEN MAX(s.cell) IS NULL THEN p.centroid
            ELSE list(s.sd / s.n / $S ORDER BY s.i) END AS centroid
          FROM $prev p LEFT JOIN sums_$out s ON s.cell = p.c_id
          GROUP BY p.c_id, p.centroid)"""
    val perSubspace = (0 until M).map { m =>
      val off = m * SubDim
      val iterCtes = (1 to Iters).map(t =>
        assign(m, s"cents${m}_${t - 1}", s"assign${m}_$t") + "," +
          update(m, s"assign${m}_$t", s"cents${m}_${t - 1}", s"cents${m}_$t"))
        .mkString(",")
      s"""
        sub$m AS (
          SELECT vec_id,
            list_transform(range(${off + 1}, ${off + SubDim + 1}),
              i -> CAST(embedding[i] AS DOUBLE)) AS sv
          FROM embeddings WHERE embedding IS NOT NULL),
        cents${m}_0 AS (
          SELECT vec_id AS c_id, sv AS centroid FROM sub$m WHERE vec_id < $K),
        $iterCtes,
        codes$m AS (
          SELECT vec_id, c_id AS code$m FROM (
            SELECT s.vec_id, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
                ${dist("s.sv", "c.centroid")} ASC, c.c_id) AS rn
            FROM sub$m s CROSS JOIN cents${m}_$Iters c) WHERE rn = 1),
        tbl$m AS (
          SELECT qq.vec_id AS q_id, c.c_id, ${dist("qq.sv", "c.centroid")} AS t
          FROM cents${m}_$Iters c CROSS JOIN
            (SELECT vec_id, sv FROM sub$m WHERE $qWhere) qq)"""
    }.mkString(",")
    // Joining all four (codes m, tbl m) pairs directly into the candidate
    // join hands DuckDB an 11-relation join it orders catastrophically
    // (measured: 2 code joins 0.5 s, 3 code joins 100 s at sf0.01) — so
    // the codes collapse to ONE row per vector and the per-query tables
    // to ONE row per (query, code combination) first, leaving the
    // candidate join five well-keyed relations. MATERIALIZED pins the
    // collapse against re-inlining. `adc` sums t0+t1+t2+t3 left to right
    // — the same fixed-m-order association as the in-plan reduce.
    val codesAll = s"""
        codesAll AS MATERIALIZED (
          SELECT ${(0 until M).map(m => s"c$m.code$m").mkString("c0.vec_id, ", ", ", "")}
          FROM codes0 c0 ${(1 until M).map(m => s"JOIN codes$m c$m USING (vec_id)").mkString(" ")}),
        tabs AS MATERIALIZED (
          SELECT t0.q_id, ${(0 until M).map(m => s"t$m.c_id AS k$m").mkString(", ")},
            ${(0 until M).map(m => s"t$m.t").mkString(" + ")} AS adc
          FROM tbl0 t0 ${(1 until M).map(m => s"JOIN tbl$m t$m ON t$m.q_id = t0.q_id").mkString(" ")})"""
    val codeJoins =
      s"""JOIN codesAll c ON c.vec_id = e.vec_id
          JOIN tabs tb ON tb.q_id = p.q_id AND ${(0 until M).map(m => s"tb.k$m = c.code$m").mkString(" AND ")}"""
    (perSubspace + "," + codesAll, codeJoins, "tb.adc")
  }

  /** DuckDB replay of the distributed batch ANN search (q155): the
    * trained-coarse chain to `cents2`/`assignF`, PER-QUERY probe selection
    * (the trainedProbeCtes window partitioned by q_id), the batch PQ
    * replay with per-query ADC tables, and a per-query top-10 — one SQL
    * statement mirroring one Spark plan.
    */
  private def annBatchOracleSql: String = {
    val (perSubspace, codeJoins, adcSum) = pqOraclePartsBatch("vec_id % 100 = 42")
    s"""
        WITH $trainedIvfCtes,
        qs AS (SELECT vec_id AS q_id, embedding AS q_emb, v_nrm AS q_nrm
               FROM nrm WHERE vec_id % 100 = 42 AND embedding IS NOT NULL),
        probes AS (
          SELECT q_id, c_id AS q_cell FROM (
            SELECT q.q_id, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(q.q_emb[i] AS DOUBLE) * c.centroid[i]), (x, y) -> x + y)
                  / (q.q_nrm * c.c_nrm) DESC, c.c_id) AS rn
            FROM qs q CROSS JOIN cents2 c) WHERE rn <= 2),
        $perSubspace,
        cand AS (
          SELECT p.q_id, e.vec_id, ($adcSum) AS adc_dist
          FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL) e
            JOIN assignF a ON a.vec_id = e.vec_id
            JOIN probes p ON a.cell = p.q_cell
            $codeJoins
          WHERE e.vec_id <> p.q_id)
        SELECT q_id, vec_id, adc_dist FROM (
          SELECT q_id, vec_id, adc_dist,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
          FROM cand) WHERE rn <= 10
        ORDER BY q_id, adc_dist, vec_id"""
  }

  /** DuckDB replay of filtered batch ANN (q169): q155's replay with the
    * candidate side restricted to label 3 BEFORE the per-query top-10 —
    * the pre-filter semantics, not a post-filter of full-corpus results.
    */
  private def filteredAnnOracleSql: String = {
    val (perSubspace, codeJoins, adcSum) = pqOraclePartsBatch("vec_id % 100 = 42")
    s"""
        WITH $trainedIvfCtes,
        qs AS (SELECT vec_id AS q_id, embedding AS q_emb, v_nrm AS q_nrm
               FROM nrm WHERE vec_id % 100 = 42 AND embedding IS NOT NULL),
        probes AS (
          SELECT q_id, c_id AS q_cell FROM (
            SELECT q.q_id, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(q.q_emb[i] AS DOUBLE) * c.centroid[i]), (x, y) -> x + y)
                  / (q.q_nrm * c.c_nrm) DESC, c.c_id) AS rn
            FROM qs q CROSS JOIN cents2 c) WHERE rn <= 2),
        $perSubspace,
        cand AS (
          SELECT p.q_id, e.vec_id, ($adcSum) AS adc_dist
          FROM (SELECT vec_id FROM embeddings
                WHERE embedding IS NOT NULL AND label = 3) e
            JOIN assignF a ON a.vec_id = e.vec_id
            JOIN probes p ON a.cell = p.q_cell
            $codeJoins
          WHERE e.vec_id <> p.q_id)
        SELECT q_id, vec_id, adc_dist FROM (
          SELECT q_id, vec_id, adc_dist,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
          FROM cand) WHERE rn <= 10
        ORDER BY q_id, adc_dist, vec_id"""
  }

  /** DuckDB replay of hard-negative mining (q165): the q155 batch replay's
    * ADC top-10, label-joined on both ends, same-label rows excluded, and
    * the survivors re-ranked per anchor (ties broken by vec_id, identical
    * to the Spark window) with the top 5 kept.
    */
  private def hardNegativeOracleSql: String = {
    val (perSubspace, codeJoins, adcSum) = pqOraclePartsBatch("vec_id % 100 = 42")
    s"""
        WITH $trainedIvfCtes,
        qs AS (SELECT vec_id AS q_id, embedding AS q_emb, v_nrm AS q_nrm
               FROM nrm WHERE vec_id % 100 = 42 AND embedding IS NOT NULL),
        probes AS (
          SELECT q_id, c_id AS q_cell FROM (
            SELECT q.q_id, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(q.q_emb[i] AS DOUBLE) * c.centroid[i]), (x, y) -> x + y)
                  / (q.q_nrm * c.c_nrm) DESC, c.c_id) AS rn
            FROM qs q CROSS JOIN cents2 c) WHERE rn <= 2),
        $perSubspace,
        cand AS (
          SELECT p.q_id, e.vec_id, ($adcSum) AS adc_dist
          FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL) e
            JOIN assignF a ON a.vec_id = e.vec_id
            JOIN probes p ON a.cell = p.q_cell
            $codeJoins
          WHERE e.vec_id <> p.q_id),
        topk AS (
          SELECT q_id, vec_id, adc_dist,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
          FROM cand),
        lab AS (SELECT vec_id, label FROM embeddings)
        SELECT q_id, neg_id, neg_rank, adc_dist FROM (
          SELECT t.q_id, t.vec_id AS neg_id, t.adc_dist,
            CAST(ROW_NUMBER() OVER (PARTITION BY t.q_id
              ORDER BY t.adc_dist, t.vec_id) AS BIGINT) AS neg_rank
          FROM topk t
            JOIN lab ql ON ql.vec_id = t.q_id
            JOIN lab cl ON cl.vec_id = t.vec_id
          WHERE t.rn <= 10 AND cl.label <> ql.label)
        WHERE neg_rank <= 5
        ORDER BY q_id, neg_rank"""
  }

  /** DuckDB replay of the keep-first index dedup (q158): the q155 batch
    * machinery with EVERY corpus vector as a query, then the identical
    * drop rule — a lower-id neighbor within eps inside the ADC top-10.
    */
  private def annDedupOracleSql: String = {
    val (perSubspace, codeJoins, adcSum) = pqOraclePartsBatch("TRUE")
    s"""
        WITH $trainedIvfCtes,
        qs AS (SELECT vec_id AS q_id, embedding AS q_emb, v_nrm AS q_nrm
               FROM nrm WHERE embedding IS NOT NULL),
        probes AS (
          SELECT q_id, c_id AS q_cell FROM (
            SELECT q.q_id, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(q.q_emb[i] AS DOUBLE) * c.centroid[i]), (x, y) -> x + y)
                  / (q.q_nrm * c.c_nrm) DESC, c.c_id) AS rn
            FROM qs q CROSS JOIN cents2 c) WHERE rn <= 2),
        $perSubspace,
        cand AS (
          SELECT p.q_id, e.vec_id, ($adcSum) AS adc_dist
          FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL) e
            JOIN assignF a ON a.vec_id = e.vec_id
            JOIN probes p ON a.cell = p.q_cell
            $codeJoins
          WHERE e.vec_id <> p.q_id),
        topk AS (
          SELECT q_id, vec_id, adc_dist,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
          FROM cand),
        dup AS (
          SELECT DISTINCT q_id FROM topk
          WHERE rn <= 10 AND vec_id < q_id AND adc_dist <= 0.95)
        SELECT e.vec_id,
          CASE WHEN d.q_id IS NOT NULL THEN 'dropped' ELSE 'kept' END AS verdict
        FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL) e
        LEFT JOIN dup d ON d.q_id = e.vec_id
        ORDER BY e.vec_id"""
  }

  /** DuckDB replay of the two-phase embedding-ingest verdicts (q179):
    * the q158 batch machinery (every vector a query, qWhere TRUE), then
    * three candidate branches over ONE generic candidate set — phase-1
    * in-batch (evens vs evens, lower-id rule), phase-2 vs-index (odds vs
    * phase-1's accepted evens, any-neighbor rule), phase-2 in-batch
    * (odds vs odds, lower-id rule) — each ranked to its own top-10
    * WITHIN its branch, exactly as searchRows computes top-k over the
    * searched side only. Verdict priority mirrors AnnIngest.verdicts.
    */
  private def annIngestOracleSql: String = {
    val (perSubspace, codeJoins, adcSum) = pqOraclePartsBatch("TRUE")
    s"""
        WITH $trainedIvfCtes,
        qs AS (SELECT vec_id AS q_id, embedding AS q_emb, v_nrm AS q_nrm
               FROM nrm WHERE embedding IS NOT NULL),
        probes AS (
          SELECT q_id, c_id AS q_cell FROM (
            SELECT q.q_id, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(q.q_emb[i] AS DOUBLE) * c.centroid[i]), (x, y) -> x + y)
                  / (q.q_nrm * c.c_nrm) DESC, c.c_id) AS rn
            FROM qs q CROSS JOIN cents2 c) WHERE rn <= 2),
        $perSubspace,
        allc AS (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL),
        cand AS MATERIALIZED (
          SELECT p.q_id, e.vec_id, ($adcSum) AS adc_dist
          FROM allc e
            JOIN assignF a ON a.vec_id = e.vec_id
            JOIN probes p ON a.cell = p.q_cell
            $codeJoins
          WHERE e.vec_id <> p.q_id),
        t1 AS (
          SELECT q_id, vec_id, adc_dist,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
          FROM cand WHERE q_id % 2 = 0 AND vec_id % 2 = 0),
        drop1 AS (
          SELECT DISTINCT q_id FROM t1
          WHERE rn <= 10 AND vec_id < q_id AND adc_dist <= 0.95),
        acc1 AS (
          SELECT vec_id FROM allc WHERE vec_id % 2 = 0
            AND vec_id NOT IN (SELECT q_id FROM drop1)),
        t2i AS (
          SELECT q_id, adc_dist,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
          FROM cand WHERE q_id % 2 = 1
            AND vec_id IN (SELECT vec_id FROM acc1)),
        drop2i AS (SELECT DISTINCT q_id FROM t2i WHERE rn <= 10 AND adc_dist <= 0.95),
        t2b AS (
          SELECT q_id, vec_id, adc_dist,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
          FROM cand WHERE q_id % 2 = 1 AND vec_id % 2 = 1),
        drop2b AS (
          SELECT DISTINCT q_id FROM t2b
          WHERE rn <= 10 AND vec_id < q_id AND adc_dist <= 0.95)
        SELECT e.vec_id, CAST(1 + e.vec_id % 2 AS BIGINT) AS phase,
          CASE WHEN e.vec_id % 2 = 0 THEN
                 CASE WHEN d1.q_id IS NOT NULL THEN 'dropped_in_batch'
                      ELSE 'accepted' END
               ELSE
                 CASE WHEN d2i.q_id IS NOT NULL THEN 'dropped_vs_index'
                      WHEN d2b.q_id IS NOT NULL THEN 'dropped_in_batch'
                      ELSE 'accepted' END END AS verdict
        FROM allc e
        LEFT JOIN drop1 d1 ON d1.q_id = e.vec_id
        LEFT JOIN drop2i d2i ON d2i.q_id = e.vec_id
        LEFT JOIN drop2b d2b ON d2b.q_id = e.vec_id
        ORDER BY e.vec_id"""
  }

  /** DuckDB replay of the composed IVF×PQ layout: q112's coarse cosine
    * assignment + probe selection glued onto q129's PQ replay — the ADC
    * scan runs only over residents of the 2 probed cells.
    */
  private def ivfPqOracleSql: String = {
    val (perSubspace, codeJoins, codesStr, adcSum) = pqOracleParts(qVecId = 42)
    s"""
        WITH ${ivfOracleCtes(qVecId = 42, nprobe = 2)},
        $perSubspace
        SELECT e.vec_id, CAST(a.cell AS BIGINT) AS cell,
          $codesStr AS codes, ($adcSum) AS adc_dist
        FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL) e
          JOIN assigned a ON a.vec_id = e.vec_id
          JOIN probes p ON a.cell = p.q_cell
          $codeJoins
        WHERE e.vec_id <> 42
        ORDER BY adc_dist, e.vec_id LIMIT 10"""
  }

  /** DuckDB replay of the two-stage search: q129's PQ pipeline to a 30-row
    * ADC shortlist, then the exact cosine (q40's fold arithmetic) over just
    * those rows, re-ranked to the final 10.
    */
  private def adcRerankOracleSql: String = {
    val (perSubspace, codeJoins, _, adcSum) = pqOracleParts(qVecId = 0)
    s"""
        WITH $perSubspace,
        short AS (
          SELECT e.vec_id, ($adcSum) AS adc_dist
          FROM (SELECT vec_id FROM embeddings
                WHERE embedding IS NOT NULL AND vec_id <> 0) e
            $codeJoins
          ORDER BY adc_dist, e.vec_id LIMIT 30),
        ranked AS (
          SELECT vec_id, adc_dist,
            CAST(ROW_NUMBER() OVER (ORDER BY adc_dist, vec_id) AS BIGINT) AS adc_rank
          FROM short),
        q AS (SELECT embedding AS qv, ${normSql("embedding")} AS q_nrm
              FROM embeddings WHERE vec_id = 0),
        exact AS (
          SELECT r.vec_id, r.adc_rank, r.adc_dist,
            $dotSql / (${normSql("embedding")} * q_nrm) AS sim
          FROM ranked r JOIN embeddings em ON em.vec_id = r.vec_id, q)
        SELECT vec_id, adc_rank, exact_rank, adc_dist, sim FROM (
          SELECT vec_id, adc_rank, adc_dist, sim,
            CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS exact_rank
          FROM exact)
        WHERE exact_rank <= 10 ORDER BY exact_rank"""
  }

  /** CTE chain replaying [[graft.ml.KMeans.fitCodebook]] (k=16, 2 Lloyd
    * iterations): ends with `cents2` (the TRAINED codebook: c_id, centroid
    * double-list, c_nrm) and `assignF` (the corpus assignment under it —
    * vec_id, embedding, v_nrm, cell). Shared by the training report (q92)
    * and every query that composes the trained codebook (q148/q149), so
    * the replay can never fork from the oracle copy by copy.
    */
  private def trainedIvfCtes: String = {
    val S = "17592186044416.0"
    def assign(cents: String, out: String) = s"""
        $out AS (
          SELECT vec_id, embedding, v_nrm, c_id AS cell FROM (
            SELECT n.vec_id, n.embedding, n.v_nrm, c.c_id,
              ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(n.embedding[i] AS DOUBLE) * c.centroid[i]), (x, y) -> x + y)
                  / (n.v_nrm * c.c_nrm) DESC, c.c_id) AS rn
            FROM nrm n CROSS JOIN $cents c) WHERE rn = 1)"""
    def update(assigned: String, prev: String, tag: String) = s"""
        sums$tag AS (
          SELECT cell, i, COUNT(*) AS n,
            CAST(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * $S AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sd
          FROM $assigned, (SELECT unnest(generate_series(1, 64)) AS i)
          GROUP BY cell, i),
        raw$tag AS (
          SELECT p.c_id,
            CASE WHEN COUNT(s.i) = 0 THEN p.centroid
                 ELSE list(s.sd / s.n / $S ORDER BY s.i) END AS centroid
          FROM $prev p LEFT JOIN sums$tag s ON s.cell = p.c_id
          GROUP BY p.c_id, p.centroid),
        cents$tag AS (
          SELECT c_id, centroid,
            sqrt(list_reduce(list_transform(centroid, x -> x * x), (x, y) -> x + y)) AS c_nrm
          FROM raw$tag)"""
    s"""nrm AS (
          SELECT vec_id, embedding, ${normSql("embedding")} AS v_nrm FROM embeddings),
        c0 AS (
          SELECT vec_id AS c_id,
            list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS centroid
          FROM embeddings WHERE vec_id < 16),
        cents0 AS (
          SELECT c_id, centroid,
            sqrt(list_reduce(list_transform(centroid, x -> x * x), (x, y) -> x + y)) AS c_nrm
          FROM c0),
        ${assign("cents0", "assign1")},
        ${update("assign1", "cents0", "1")},
        ${assign("cents1", "assign2")},
        ${update("assign2", "cents1", "2")},
        ${assign("cents2", "assignF")}"""
  }

  /** Probe CTEs over the TRAINED codebook: rank `cents2` against vector
    * `qVecId`'s cosine, keep `nprobe` — mirrors [[probeRowsTrained]]
    * (full-double centroids, float query cast per element).
    */
  private def trainedProbeCtes(qVecId: Int, nprobe: Int): String = s"""
        qv AS (SELECT embedding AS q_emb, v_nrm AS q_nrm FROM nrm WHERE vec_id = $qVecId),
        probes AS (
          SELECT c_id AS q_cell FROM (
            SELECT c.c_id,
              ROW_NUMBER() OVER (ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(q.q_emb[i] AS DOUBLE) * c.centroid[i]), (x, y) -> x + y)
                  / (q.q_nrm * c.c_nrm) DESC, c.c_id) AS rn
            FROM qv q CROSS JOIN cents2 c) WHERE rn <= $nprobe)"""

  /** DuckDB replay of [[graft.ml.KMeans.fitCodebook]] (k=16, 2 iterations):
    * same init (first 16 vectors), same row-local argmax order (sim DESC,
    * c_id), same exact decimal means, same empty-cell keep-old policy.
    */
  private def kmeansOracleSql: String = s"""
        WITH $trainedIvfCtes,
        counts AS (SELECT cell, COUNT(*) AS members FROM assignF GROUP BY cell)
        SELECT c.c_id AS cell, COALESCE(m.members, 0) AS members,
          list_reduce(list_transform(c.centroid, x -> x * x), (x, y) -> x + y) AS centroid_sq_norm
        FROM cents2 c LEFT JOIN counts m ON m.cell = c.c_id
        ORDER BY c.c_id"""

  /** DuckDB replay of the TRAINED IVF×PQ composition (q148): the k-means
    * chain to `cents2`/`assignF`, trained-centroid probe selection for
    * vector 42, then q129's PQ replay ADC-scanning only probed residents.
    */
  private def ivfPqTrainedOracleSql: String = {
    val (perSubspace, codeJoins, codesStr, adcSum) = pqOracleParts(qVecId = 42)
    s"""
        WITH $trainedIvfCtes,
        ${trainedProbeCtes(qVecId = 42, nprobe = 2)},
        $perSubspace
        SELECT e.vec_id, CAST(a.cell AS BIGINT) AS cell,
          $codesStr AS codes, ($adcSum) AS adc_dist
        FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL) e
          JOIN assignF a ON a.vec_id = e.vec_id
          JOIN probes p ON a.cell = p.q_cell
          $codeJoins
        WHERE e.vec_id <> 42
        ORDER BY adc_dist, e.vec_id LIMIT 10"""
  }

  /** DuckDB replay of recall@10 under the TRAINED codebook (q149): same
    * one-row reduction as q134, with the IVF arm assigned and probed via
    * `cents2` instead of the first-16-vectors heuristic.
    */
  private def trainedRecallOracleSql: String = s"""
        WITH $trainedIvfCtes,
        ${trainedProbeCtes(qVecId = 42, nprobe = 2)},
        ivf AS (
          SELECT vec_id, 1 AS hit FROM (
            SELECT a.vec_id,
              list_reduce(list_transform(range(1, 65),
                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), (x, y) -> x + y)
                / (a.v_nrm * q.q_nrm) AS sim
            FROM assignF a JOIN probes p ON a.cell = p.q_cell, qv q
            WHERE a.vec_id <> 42
            ORDER BY sim DESC, a.vec_id LIMIT 10)),
        brute AS (
          SELECT n.vec_id,
            list_reduce(list_transform(range(1, 65),
              i -> CAST(n.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), (x, y) -> x + y)
              / (n.v_nrm * q.q_nrm) AS sim
          FROM nrm n, qv q WHERE n.vec_id <> 42
          ORDER BY sim DESC, n.vec_id LIMIT 10)
        SELECT CAST(10 AS BIGINT) AS k,
          CAST(SUM(COALESCE(i.hit, 0)) AS BIGINT) AS hits,
          CAST(CAST(SUM(COALESCE(i.hit, 0)) AS DOUBLE) / CAST(10 AS DOUBLE) AS DOUBLE) AS recall,
          COALESCE(string_agg(CASE WHEN i.hit IS NULL
            THEN CAST(b.vec_id AS VARCHAR) END, ',' ORDER BY b.vec_id), '') AS missed
        FROM brute b LEFT JOIN ivf i ON b.vec_id = i.vec_id"""

  /** DuckDB replay of the two-stage-search quality reduction (q150):
    * q144's shortlist/re-rank pipeline collapsed to ONE row — recall@10 of
    * the ADC-only top-10 and of the re-ranked top-10 against the exact
    * brute-force top-10, plus how many ground-truth rows the re-rank
    * placed at their exact rank.
    */
  private def rerankRecallOracleSql: String = {
    val (perSubspace, codeJoins, _, adcSum) = pqOracleParts(qVecId = 0)
    s"""
        WITH $perSubspace,
        short AS (
          SELECT e.vec_id, ($adcSum) AS adc_dist
          FROM (SELECT vec_id FROM embeddings
                WHERE embedding IS NOT NULL AND vec_id <> 0) e
            $codeJoins
          ORDER BY adc_dist, e.vec_id LIMIT 30),
        ranked AS (
          SELECT vec_id, adc_dist,
            CAST(ROW_NUMBER() OVER (ORDER BY adc_dist, vec_id) AS BIGINT) AS adc_pos
          FROM short),
        adc10 AS (SELECT vec_id, adc_pos FROM ranked WHERE adc_pos <= 10),
        q AS (SELECT embedding AS qv, ${normSql("embedding")} AS q_nrm
              FROM embeddings WHERE vec_id = 0),
        rr AS (
          SELECT vec_id,
            CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rr_rank
          FROM (SELECT r.vec_id,
                  $dotSql / (${normSql("embedding")} * q_nrm) AS sim
                FROM ranked r JOIN embeddings em ON em.vec_id = r.vec_id, q)),
        rr10 AS (SELECT vec_id, rr_rank FROM rr WHERE rr_rank <= 10),
        brute AS (
          SELECT vec_id, sim FROM (
            SELECT vec_id,
              $dotSql / (${normSql("embedding")} * ${normSql("qv")}) AS sim
            FROM embeddings, q WHERE vec_id <> 0
            ORDER BY sim DESC, vec_id LIMIT 10)),
        brute10 AS (
          SELECT vec_id,
            CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS pos
          FROM brute)
        SELECT CAST(10 AS BIGINT) AS k,
          CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS adc_hits,
          CAST(CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(10 AS DOUBLE) AS DOUBLE) AS adc_recall,
          CAST(SUM(CASE WHEN rr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS rerank_hits,
          CAST(CAST(SUM(CASE WHEN rr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(10 AS DOUBLE) AS DOUBLE) AS rerank_recall,
          CAST(SUM(CASE WHEN rr.rr_rank = b.pos THEN 1 ELSE 0 END) AS BIGINT) AS rank_matches
        FROM brute10 b
        LEFT JOIN adc10 a ON a.vec_id = b.vec_id
        LEFT JOIN rr10 rr ON rr.vec_id = b.vec_id"""
  }
}
