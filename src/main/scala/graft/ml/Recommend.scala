package graft.ml

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.SparkSession

/** SURVEY §2 F17 — implicit-feedback collaborative filtering on the
  * customer × part purchase matrix (reference analog: the pyspark.ml
  * usage at airflow.py:20-23 establishes the spark.ml surface; ALS is
  * its recommendation-side counterpart).
  *
  * Scale shape: ALS's blocked alternating least squares IS the
  * distributed factorization — user/item factor blocks co-partitioned
  * with their ratings, each solve a local normal-equations problem; the
  * interaction matrix it runs on is orders of magnitude below the fact
  * table that produced it. Fixed seed + fixed blocking keep a refit
  * deterministic on a given layout; the estimator is still
  * stochastic-start across layouts, hence rows-only at the driver gate
  * with a ranking-quality spec (RegressionSpec).
  */
object Recommend {

  /** Trained once per dataset and SAVED TO DISK (ALSModel.write → factor
    * parquet + metadata, a StagedTables directory), then re-loaded per
    * call — the staged-table idiom applied to a model artifact,
    * replacing the former in-JVM ALSModel memo, which had two defects:
    *  - the memoized model held factor DataFrames bound to the session
    *    (and the cache blocks) that trained it, so a session restart or a
    *    harness `clearCache()` between queries invalidated them — serving
    *    then silently re-ran the whole ALS lineage (measured as m_als
    *    costing fit-time on EVERY bench pass, 11.5 s, instead of once);
    *  - it was keyed only by dataset path (the session-rebind bug).
    * `ALSModel.load` binds the factors to the ACTIVE session and reads
    * them from parquet, so a served recommendation costs two small scans
    * + the top-k — on a cluster this is exactly the train-once/serve-many
    * model-registry shape. Train config: rank 8, 5 implicit iterations,
    * seed 42 (deterministic on a fixed layout; RegressionSpec pins the
    * ranking margin). */
  def alsModel(s: SparkSession, d: String): ALSModel =
    ALSModel.load(graft.queries.StagedTables.dir(s, "als", d) { dir =>
      new ALS()
        .setRank(8).setMaxIter(5).setRegParam(0.1)
        .setImplicitPrefs(true).setAlpha(1.0).setSeed(42)
        .setUserCol("user").setItemCol("item").setRatingCol("rating")
        .setColdStartStrategy("drop")
        .fit(graft.queries.MlQueries.alsInteractions(s, d))
        .write.save(dir)
    })
}
