package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting for training pipelines: every engine
  * that can do 64-bit integer arithmetic assigns the same split to the same
  * id — no RNG state, no engine-specific hash. Knuth multiplicative hash on
  * the id, bucketed 0..99; split by cumulative bucket ranges.
  *
  * At 10^12 rows this is a stateless narrow map (no shuffle, no sampling
  * pass), and the assignment is stable under re-runs, repartitioning, and
  * backfills — the property that matters for reproducible train/test
  * separation. */
object Sampling {

  final val Knuth = 2654435761L
  final val Mod = 1000003L // prime > 100 buckets, small enough for exact SQL

  /** Refuse non-integral id columns before a `.cast("long")`: a fractional
    * id truncates (distinct docs silently merge) and a non-numeric one
    * nulls out downstream. */
  private[graft] def requireIntegral(df: DataFrame, c: String, op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(c).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$op column '$c' must be integral, got $dt — a lossy cast to long " +
        "would silently corrupt the ids")
  }

  /** Bucket 0..99 from the id, computed as
    * `((id mod P) · (K mod P)) mod P mod 100` — mathematically identical to
    * `(id·K) mod P` but with both factors < 2^20 the product stays exact in
    * 64-bit for EVERY id (the direct form overflows silently in Spark and
    * errors in checked-arithmetic engines once id ≥ ~3.5e9 — i.e. exactly
    * at the 10^12-row scale this function is documented for). */
  def bucket(id: Column): Column =
    pmod(pmod(id.cast("long"), lit(Mod)) * lit(Knuth % Mod), lit(Mod)) % lit(100L)

  /** The overflow-safe Knuth-hash ordering key `(id mod P)·(K mod P) mod P`
    * (same caveat as [[bucket]]) — used where a deterministic pseudo-random
    * ORDER over ids is needed (e.g. the k-means seed). */
  def orderKey(id: Column): Column =
    pmod(pmod(id.cast("long"), lit(Mod)) * lit(Knuth % Mod), lit(Mod))

  /** 'train' (80%), 'val' (10%), 'test' (10%). */
  def split(id: Column): Column =
    when(bucket(id) < 80, "train").when(bucket(id) < 90, "val").otherwise("test")

  /** Deterministic token-budget sampling — the corpus-MIXING step of a
    * pretraining data recipe ("take N_g tokens of group g"): per group,
    * documents are taken greedily in [[orderKey]] order (doc_id breaks
    * ties) until the group's cumulative token count reaches `budget`; the
    * crossing document is kept (prefix semantics: a doc is in iff the
    * cumulative count BEFORE it is under budget — the rule a window cumsum
    * reproduces in any engine). Hash order makes the selection a stable
    * pseudo-random sample under re-runs, repartitioning and backfills.
    *
    * Scalable shape: NOT one window cumsum per group — that sorts a whole
    * group through one task. Three stages:
    *  1. aggregate (group, orderKey) token totals — ≤ `Mod` rows per group
    *     however large the corpus;
    *  2. prefix-sum THAT aggregate per group (the only per-group sort, over
    *     ≤ `Mod` rows) → each orderKey's base offset;
    *  3. join back: keys wholly under budget take every doc with no
    *     further work; the ONE crossing key per group refines with a
    *     window over just its own docs (expected group-size/`Mod` rows).
    */
  def mixByTokenBudget(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, budget: Long): DataFrame = {
    requireIntegral(docs, idCol, "mixByTokenBudget")
    val t = docs.select(col(groupCol).as("grp"),
      col(idCol).cast("long").as("doc_id"),
      TextStats.wsTokens(col(textCol)).as("n_tokens"),
      orderKey(col(idCol)).as("ok"))
    val wb = Window.partitionBy("grp").orderBy("ok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val buckets = t.groupBy("grp", "ok").agg(sum("n_tokens").as("btok"))
      .withColumn("base", sum("btok").over(wb) - col("btok"))
      .where(col("base") < budget) // keys at/after the cutoff drop here
      .select("grp", "ok", "base", "btok")
    val joined = t.join(buckets, Seq("grp", "ok"))
    val whole = joined.where(col("base") + col("btok") <= budget)
    val wd = Window.partitionBy("grp", "ok").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val crossing = joined.where(col("base") + col("btok") > budget)
      .withColumn("cum", col("base") + sum("n_tokens").over(wd))
      .where(col("cum") - col("n_tokens") < budget)
    whole.select("grp", "doc_id", "n_tokens")
      .unionByName(crossing.select("grp", "doc_id", "n_tokens"))
  }
}
