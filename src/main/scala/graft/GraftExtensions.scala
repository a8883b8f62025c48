package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: the engine's optimizer rules,
  * its SQL parser, and every function in the [[GraftFunctions.all]]
  * table. `GraftSession.configure` installs it, so every session the
  * engine builds (and that session's `newSession()` and cloned streaming
  * sessions) resolves `graft_cosine_sim(a, b)` etc. from SQL and from
  * the Column helpers. A session the engine does not build gets the
  * same by
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)            // programmatic, or
  *   .config("spark.sql.extensions", "graft.GraftExtensions") // by conf
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.SimplifySelfCosine)
    // answer aggregates from registered fresh materialized views
    // (MvCatalog.register/materialize) — no-op while none are registered
    ext.injectOptimizerRule(_ => graft.plans.RewriteToMv)
    // SQL spellings for table-format maintenance (GRAFT RESTORE/CLONE/
    // OPTIMIZE/REBUCKET/VACUUM/DESCRIBE HISTORY); everything else goes
    // verbatim to the delegate parser
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    GraftFunctions.all.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, null, f.name, f.usage, ""), f.builder))
    }
  }
}
