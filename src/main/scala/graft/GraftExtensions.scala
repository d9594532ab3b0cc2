package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point: registers the graft expression family
  * at session build, so a cluster user gets `graft_vec_dot`,
  * `graft_shingle_hash_set`, `graft_simhash`, `graft_token_hashes`,
  * `graft_intersect_size`, `graft_text_stats` in plain SQL via
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (SURVEY.md §7: custom Expression surface registered through
  * SparkSessionExtensions.) The names are for SQL text only: the
  * declared queries (`SparkEntry.queries`) build the same expressions
  * as Columns through [[graft.functions]] and need no registration, so
  * the extension is a convenience for SQL users, not a requirement.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // injectFunction needs FunctionIdentifier+ExpressionInfo plumbing;
    // the check-in hook below registers on first session access instead,
    // keeping one registration code path for both entry points.
    e.injectCheckRule { session =>
      functions.GraftFunctions.register(session)
      functions.TextHashFunctions.register(session)
      _ => ()
    }
    // custom operators: AS-OF and bounded-RANGE join logical nodes,
    // lowered at analysis time to their scalable compositions
    // (single-shuffle union-sort / bucket±1 banded equi-join, graft.plans)
    e.injectResolutionRule(_ => plans.RewriteAsOfJoin)
    e.injectResolutionRule(_ => plans.RewriteRangeJoin)
    // custom physical operator: the sorted-merge as-of exec (the
    // AsOfMerge API also self-installs via experimental strategies)
    e.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
  }
}
