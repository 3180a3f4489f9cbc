package org.apache.spark.sql.graftnative

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Repartition}
import org.apache.spark.sql.classic.Dataset

object OnePartition {

  /** `df` read as one partition from its leaves up: every leaf of its plan
    * goes under a `coalesce(1)` (a `Repartition(1, shuffle = false)`), and
    * so does the root, since a `Union` of one-partition children has one
    * partition per child. One partition satisfies every clustered and
    * ordered distribution, so none of `df`'s own operators (a dedup, an
    * aggregate, a join, a sort) needs an exchange, and the whole plan runs
    * as one task. An explicit `repartition(n)` in `df` keeps its exchange:
    * `CollapseRepartition` drops the leaf coalesce under it.
    *
    * The leaves are taken after cache substitution (`withCachedData`), so a
    * cached fragment stays an in-memory scan; rewriting the analyzed plan
    * would lose the cache match.
    */
  def apply(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val leaves = qe.withCachedData.transformUp { case l: LeafNode => Repartition(1, shuffle = false, l) }
    Dataset.ofRows(qe.sparkSession, leaves).coalesce(1)
  }
}
