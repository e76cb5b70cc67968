package graft

import org.apache.spark.sql.SparkSession

object Sessions {

  /** `spark.newSession()` that keeps using the JVM's compiled-code cache.
    *
    * Spark keys its cache of Janino-compiled classes by the source AND the
    * task's context classloader. By default every new session gets its own
    * `ArtifactManager`, whose session id gives that session's tasks their
    * own executor classloader — so a query run in a fresh child session
    * recompiles every generated class, even when the source is
    * byte-identical to one compiled a moment earlier (measured: 17 classes
    * per per-flow IAT drain, 25 per windowed KPI drain, each time).
    * Switching artifact isolation off for the child lets its tasks load
    * through the shared classloader, so identical code compiles once per
    * JVM, as it does across queries of one session. Child sessions here
    * add no artifacts (jars, class files) of their own, which is the only
    * thing isolation protects.
    *
    * `conf` is applied first; the isolation setting comes last so no
    * carried entry can switch it back on. `ArtifactManager` reads the
    * setting lazily, on the session's first query. */
  def child(spark: SparkSession,
            conf: Iterable[(String, String)] = Nil): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s.conf.set("spark.sql.artifact.isolation.enabled", "false")
    s
  }
}
