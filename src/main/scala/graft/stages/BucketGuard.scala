package graft.stages

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Candidate pairs of an LSH band-bucket stream, with a skew guard
  * (minhash / simhash / hammingpairs / cosinedup / similaritylsh).
  *
  * Shape: the banded stream is repartitioned on the bucket key ONCE
  * (`SimilarityStages.spread` — an explicit keyed exchange AQE never
  * coalesces, since the pair expansion after it is quadratic per bucket
  * while its bytes are tiny). Everything after it runs in that exchange's
  * reduce stage over one sort: a window counts every bucket, singletons
  * (most buckets) and hot buckets drop out, and a second window hands
  * each surviving member row its bucket's member list, from which it
  * explodes its partners with a larger id — O(bucket) per row, never a
  * bucket's k² pairs in one array. A group-by `collect_list` over all
  * buckets costs about 3× the CPU here: its object aggregate falls back
  * to sorting twice (partial and final) past 128 keys per task. There is
  * no bucket self-join, so the banded stream (and the signature
  * projection under it) is computed once per doc. A guard written as a
  * count aggregate plus an anti-join re-reads it, because Spark pushes
  * the anti-join below the repartition.
  *
  * Guard: a degenerate bucket — boilerplate-heavy corpora produce them
  * — makes pair generation O(bucket²) in one task. Buckets with more
  * than `maxBucket` members are DROPPED, and their count is reported
  * through the engine's observe plumbing as `<stage>_hot_buckets` plus
  * a warning (zero extra jobs: the metric rides the pipeline's terminal
  * action, and it is taken on the same bucket counts that yield the
  * pairs).
  *
  * Semantics note (documented trade): dropping a bucket loses candidate
  * pairs from that band only; identical-document clusters share ALL
  * bands, so run exact dedup first (the standard pre-pass) and tune
  * `maxBucket` down for boilerplate-heavy corpora. `maxBucket <= 0`
  * disables the guard. Rows with a null bucket key join nothing and are
  * not counted.
  *
  * Reference-for-intent: the reference guards its per-record lookup hot
  * path with a bounded cache (OAbstractLookupTransformer.java:70-104);
  * this is the plan-level analogue for the bucketed pair generation.
  */
object BucketGuard {

  val DefaultMaxBucket = 100000

  /** In-bucket pairs of `banded`. Its columns are the bucket key
    * columns `keys` (high-entropy key first: it is the sort prefix), the
    * member id `__id` and any payload (e.g. the signature); `spec`'s
    * `maxBucket` option (default [[DefaultMaxBucket]]) caps the bucket
    * size. Output: structs `__l` and `__r` of the member columns, one row
    * per pair `__l.__id < __r.__id` sharing a bucket for which
    * `keep(l, r)` holds — once per shared bucket, so callers `distinct`
    * the pairs. */
  def bucketPairs(banded: DataFrame, keys: Seq[String], spec: ComponentSpec,
                  ctx: EtlContext, stage: String,
                  keep: (Column, Column) => Column = (_, _) => lit(true)): DataFrame = {
    val maxBucket = spec.int("maxBucket", DefaultMaxBucket)
    val keyCols = keys.map(col)
    val member = struct(banded.columns.filterNot(keys.contains).map(col).toIndexedSeq: _*)
    // one sort serves every window below
    val byId = Window.partitionBy(keyCols: _*).orderBy("__id")
    val bucket = byId.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // bucket size on every member row, before any list is built;
    // singletons pair with nothing
    val multi = graft.similarity.SimilarityStages.spread(
        banded.where(keyCols.map(_.isNotNull).reduce(_ && _)), keyCols)
      .withColumn("__n", count(lit(1)).over(bucket))
      .withColumn("__rn", row_number().over(byId))
      .where(col("__n") > 1)
    val kept =
      if (maxBucket <= 0) multi
      else {
        val obs = ctx.newObservation(s"${stage}_hot_buckets")
        ctx.registerCheck(ctx.PendingCheck(obs, "hot_buckets", "warning",
          s"[graft $stage] band buckets over maxBucket=$maxBucket dropped"))
        multi.observe(obs, sum(when(col("__rn") === 1 && col("__n") > maxBucket, 1L)
            .otherwise(0L)).as("hot_buckets"))
          .where(col("__n") <= maxBucket)
      }
    // every member row carries its bucket's member list and explodes
    // the partners with a larger id
    kept.select(member.as("__l"), collect_list(member).over(bucket).as("__m"))
      .select(col("__l"), explode(filter(col("__m"),
        r => col("__l.__id") < r("__id") && keep(col("__l"), r))).as("__r"))
      // implied by a < b; stating it keeps the optimizer from inferring
      // different null filters into each use of the pairs, which would
      // stop a caller's repeated uses from sharing one exchange
      .where(col("__l.__id").isNotNull && col("__r.__id").isNotNull)
  }
}
