package graft.core

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession — the counterpart of the
  * reference's single runtime entry (`haskellServer/src/Lib.hs:30-32`,
  * `startApp`): every main and the test suites run against the same
  * environment. Sessions built elsewhere (an embedder, a benchmark harness)
  * still work: `Tables.load`, `KeyedIndexRule.register` and
  * `GraftFunctions.register` install what they need at first use. */
object GraftSession {
  /** Cores for a graft main: `SPARK_GRAFT_CPUS`, default 4. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def local(cpus: Int = envCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // event-time derivations must agree with the UTC DuckDB oracle
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ~100 queries × several codegen stages far exceed the default
      // 100-entry generated-class cache; evictions force Janino
      // recompiles of the hot dedup/fingerprint expressions mid-run
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", new java.io.File(
        sys.props("java.io.tmpdir"), "graft_warehouse").getAbsolutePath)
      // the legacy events layout (TIMESTAMP(NANOS)) reads as epoch-nanos
      // longs; pinned here so no load flips it mid-run (see Tables.load)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
}
