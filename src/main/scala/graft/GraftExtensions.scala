package graft

import org.apache.spark.sql.SparkSessionExtensions

/**
 * Cluster-wide injection point for graft's custom Catalyst expressions:
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 * }}}
 *
 * installs every graft expression (`farm_fingerprint`, `shingle_set`,
 * `affine_minhash`, ...) under its SQL name into every session the cluster
 * creates, so SQL text can call them in sessions the application never
 * sees (e.g. thrift/Connect servers). DataFrame code needs neither this
 * nor `GraftFunctions.register`: the Column helpers build the expressions
 * directly. The injected builders are the same instances the
 * session-level registration uses
 * ([[graft.functions.GraftFunctions.builders]]), so SQL text behaves
 * identically through either path.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    graft.functions.GraftFunctions.builders.foreach { case (id, info, builder) =>
      extensions.injectFunction((id, info, builder))
    }
}
