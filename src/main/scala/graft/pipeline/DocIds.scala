package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, collision-FREE 64-bit doc ids from urls.
  *
  * A bare 64-bit hash of the url is not collision-free at the design scale:
  * at 10^12 docs the birthday bound expects ≈ n²/2⁶⁵ ≈ 3×10⁴ colliding
  * pairs, each of which would silently merge two unrelated documents before
  * dedup even runs. Instead of widening every downstream key to 128 bits
  * (doubling the shuffle width of the whole pipeline for a 10⁻⁸ event), we
  * DETECT collisions with one groupBy census at ingest and REHASH only the
  * colliding rows with a second independent url lane, repeating until no
  * collisions remain (expected rounds: 1; the census after the first rehash
  * is over ~10⁴ keys). The result is a function of the input url SET only —
  * independent of partitioning and cluster size — so ids remain stable
  * across runs, resumes, and parallelism levels.
  */
object DocIds {

  /** Default primary lane: seeded 64-bit hash of the url, as the codegen
    * graft_url_id expression (identical values to the round-1..4 ScalaUDF
    * form — ids and docs checkpoints stay valid; this was the last per-row
    * UDF on the corpus-wide ingest path). Null url → null id (expression
    * contract); [[assign]] rejects null urls LOUDLY before it matters —
    * see [[guardedId]]. Callers must have registered GraftExpressions —
    * [[assign]] and GraftSession.get do. */
  def primaryHash(url: Column): Column =
    call_function("graft_url_id", url, lit(0x55524C49L))

  private def rehash(id: Column, url: Column): Column =
    call_function("graft_rehash_id", id, url)

  /** Null urls fail the run loudly. The ScalaUDF this lane replaced NPE'd on
    * a null url; the codegen expression null-propagates, and a NULL id is a
    * silent contract breach — equi-joins never match NULL, so a null-url doc
    * would bypass pair generation, verification, AND decontamination's
    * anti-join scrub (the empty-shingle leak class, via ids instead of
    * signatures). The increment's freshness and collision joins also treat NULL
    * as no-match, so every increment would add ANOTHER id=NULL row the
    * collision census can't see. A raise_error branch keeps the rejection
    * per-row inside codegen (no extra validation job). */
  private def guardedId(primary: Column): Column =
    when(col("url").isNull, raise_error(lit(
      "DocIds: null url in input pages — url is the document identity key " +
        "and must be non-null"))).otherwise(primary)

  /** Assign a unique `id` to every distinct url.
    *
    * Each round counts the new rows' ids together with the `existing` ids
    * (one `groupBy(id)` census; existing ids are distinct, so a count
    * above 1 is a new id colliding with a new or an existing one),
    * rehashes exactly those new rows, and repeats — expected rounds ≈ 1.
    * Existing ids are FROZEN (downstream state references them), so only
    * the new side ever rehashes, and a rehash is re-checked against both.
    *
    * @param pages input with a `url` column (exact repeat crawls — duplicate
    *              urls — are collapsed to one row first; the input contract
    *              is byte-identical text per url)
    * @param primary the initial id column (injectable so tests can force
    *                collisions; production uses [[primaryHash]])
    * @param existing the incremental-ingest form: an `id` relation the new
    *                 ids must be disjoint from. It is corpus-sized and is
    *                 shuffled by the census, as the shuffle_hash semi-join
    *                 this replaced shuffled it. The census references the
    *                 new side ONCE: a semi-join of the existing ids to the
    *                 new ones references it twice, and each reference
    *                 materialized the cached new pages in a job of its own
    * @throws IllegalStateException if collisions persist after maxRounds
    *                               (cannot happen with 64-bit rehashing
    *                               unless two rows share a url post-dedup)
    */
  def assign(
      pages: DataFrame,
      primary: Column = primaryHash(col("url")),
      existing: Option[DataFrame] = None,
      maxRounds: Int = 5): DataFrame = {
    graft.functions.GraftExpressions.register(pages.sparkSession)
    var df = pages.dropDuplicates("url").withColumn("id", guardedId(primary))
    // each round's localCheckpoint pins blocks that supersede the previous
    // round's; release the stale ones once the new checkpoint materializes
    var pinned: Seq[Int] = Nil
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val colliding = existing.foldLeft(df.select("id"))(_ unionByName _.select("id"))
        .groupBy("id").count().where(col("count") > 1).select("id")
      if (colliding.isEmpty) done = true
      else {
        val (next, ckpt) = LocalCheckpoint(df
          .join(broadcast(colliding.withColumn("collides", lit(true))), Seq("id"), "left")
          .withColumn("id",
            when(col("collides"), rehash(col("id"), col("url"))).otherwise(col("id")))
          .drop("collides"),
          eager = true) // ids are final data, not a recomputable plan
        LocalCheckpoint.release(df, pinned)
        df = next
        pinned = ckpt
        round += 1
      }
    }
    if (!done)
      throw new IllegalStateException(
        s"doc-id collisions persist after $maxRounds rehash rounds — duplicate urls?")
    df
  }
}
