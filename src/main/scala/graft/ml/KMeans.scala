package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lloyd k-means for IVF codebook training, Spark-shaped: each iteration
  * is ONE pass over the corpus — assignment is the row-local
  * [[VecArgmaxCell]] argmax against the broadcast codebook (no join, no
  * shuffle of vectors), and the centroid update is a k-row aggregate of
  * per-dimension decimal sums (map-side partial, exact and
  * order-independent). Driver state is k×(dims+1) numbers per iteration —
  * the classic scalable k-means loop (codebooks are small by construction;
  * corpora are not).
  *
  * Determinism/exactness: init = the first k vectors by id; means divide
  * exactly-scaled integer decimal sums (same trick as q43, 2^44 scaling
  * for float24 mantissas ≥ 2^-21); every double op sequences identically
  * to the DuckDB oracle mirror (q92). Empty cells keep their previous
  * centroid.
  */
object KMeans {

  val Scale = 17592186044416.0 // 2^44

  /** Cosine-metric codebook: (c_id, centroid, norm), sorted by c_id. */
  def fitCodebook(spark: SparkSession, vecs: DataFrame, k: Int, iters: Int,
      dims: Int = 64): Seq[(Long, Seq[Double], Double)] = {
    def norm(c: Seq[Double]): Double =
      math.sqrt(c.foldLeft(0.0)((acc, v) => acc + v * v))

    // null embeddings are ungroupable (argmax yields a null cell) and
    // would NPE the driver-side collects below — gate them out up front,
    // mirroring the null gating in q35/q36
    val clean = vecs.filter(col("embedding").isNotNull)

    // init = the first k vectors BY ID (orderBy+limit, not `vec_id < k`:
    // sparse or offset id spaces would otherwise yield a partial or empty
    // codebook and a null-cell NPE in the first iteration)
    var codebook: Seq[(Long, Seq[Double], Double)] = clean
      .orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => {
        val c = r.getSeq[Double](1)
        (r.getLong(0), c, norm(c))
      }).sortBy(_._1).toSeq
    require(codebook.nonEmpty, "k-means: no non-null embeddings to initialize from")

    val withNrm = clean.select(col("vec_id"), col("embedding"),
      VecOps.norm(col("embedding")).as("v_nrm"))

    for (_ <- 1 to iters) {
      // (cell, dim)-GRAIN update aggregate, not a 64-column-wide one: the
      // wide form generated one giant whole-stage-codegen aggregate (64
      // decimal buffers) whose per-plan compile cost dominated a cold
      // build; this form's generated code is dim-independent and the
      // decimal partials per (cell, dim) are the IDENTICAL value sets
      // (decimal integer addition is order-independent), so the learned
      // centroids are bit-equal. Every row emits every dim index, so the
      // per-(cell, dim) row count is the cell's row count n, exactly as
      // count(*) was; try_element_at keeps a short vector contributing
      // null (skipped by sum) for its missing dims, as before.
      val agg = withNrm
        .withColumn("cell", VecOps.argmaxCell(col("embedding"), col("v_nrm"), codebook))
        .select(col("cell"), explode(typedLit((0 until dims).toList)).as("dim"),
          col("embedding"))
        .select(col("cell"), col("dim"),
          (try_element_at(col("embedding"), col("dim") + 1).cast("double") * Scale)
            .cast("decimal(38,0)").as("v"))
        .groupBy("cell", "dim")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .collect()
      val byCell = agg.groupBy(_.getLong(0)).map { case (cell, rows) =>
        val n = rows.head.getLong(2)
        val c = rows.sortBy(_.getInt(1)).map { r =>
          if (r.isNullAt(3)) 0.0
          // toString->parseDouble is guaranteed correctly rounded; it
          // mirrors the oracle's VARCHAR round-trip (see Qx.d2d)
          else java.lang.Double.parseDouble(r.getDecimal(3).toPlainString) / n / Scale
        }.toIndexedSeq
        cell -> c
      }
      codebook = codebook.map { case (id, prev, prevNrm) =>
        byCell.get(id) match {
          case Some(c) => (id, c, norm(c))
          case None => (id, prev, prevNrm) // empty cell: keep centroid
        }
      }
    }
    codebook
  }
}
