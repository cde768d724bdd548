package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-derived frames consumed by SEVERAL query families, cached once per
  * (session, dir, corpus stamp) — the [[graft.ann.Models]] fingerprint
  * discipline applied to derived DataFrames. The motivating case is the
  * market-basket frame: q122/q123/q145 and the whole co-purchase graph
  * family each start from `DISTINCT (l_orderkey, l_partkey)`, and a session
  * running more than one of them would otherwise re-scan and re-shuffle the
  * corpus per query. A rewritten corpus invalidates via the stamp (the
  * superseded frame is unpersisted on eviction); a restarted session via
  * `sessionUUID` in the key.
  */
object SharedFrames {

  /** Re-persist-on-access: an external cache sweep (Bench's between-query
    * block-store reset, a session's own `clearCache`) silently clears the
    * persist marker, and an unpersisted shared frame would recompute its
    * shuffle per consumer — the exact cost the cache exists to pay once. */
  private[queries] def repersisted(df: DataFrame): DataFrame = {
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist()
    df
  }

  /** Generic gate for a shared corpus-derived frame: `table` names the
    * fingerprinted source, `kind` the derivation. */
  def sharedFrame(spark: SparkSession, dir: String, table: String,
      kind: String)(build: => DataFrame): DataFrame =
    repersisted(registered(spark, dir, table, kind)(build))

  /** [[sharedFrame]]'s registry entry, not re-persisted. A build that
    * derives from another shared frame resolves that frame's entry BEFORE
    * entering its own gate (a registry call nested in a build is rejected)
    * and re-persists it inside the build, so the inner frame is re-cached
    * only when the outer one is rebuilt. */
  private[queries] def registered(spark: SparkSession, dir: String,
      table: String, kind: String)(build: => DataFrame): DataFrame =
    graft.ann.Models.cachedLatest[DataFrame](
      s"frame:$kind:${graft.ann.Models.sessionId(spark)}:$dir",
      graft.ann.Models.corpusStamp(spark, dir, table),
      onEvict = _.unpersist(blocking = false)) {
      build
    }

  /** The market-basket frame: one row per distinct (order, part) incidence.
    * One scan + one hash-distinct shuffle, paid once per corpus per
    * session; every basket/graph query starts here. */
  def basketItems(spark: SparkSession, dir: String): DataFrame =
    repersisted(basketEntry(spark, dir))

  private[queries] def basketEntry(spark: SparkSession, dir: String)
      : DataFrame =
    registered(spark, dir, "lineitem", "basket") {
      Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct()
    }
}
