package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.GraftFunctions

/**
 * SparkSessionExtensions entry point — the cluster-deploy path for the
 * custom signature expressions (SURVEY.md §2.11): ship the library jar and
 * set `--conf spark.sql.extensions=graft.GraftExtensions`; every session on
 * the cluster then resolves every function in `GraftFunctions.sqlFunctions`
 * in SQL without per-session registration calls (the programmatic
 * equivalent for a running session is `GraftFunctions.register`).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftFunctions.inject(ext)
}
