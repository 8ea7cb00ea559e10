package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its SparkSession, so every main runs the
  * same session shape.
  *
  * Environment contract:
  *   - `SPARK_GRAFT_CPUS`: core count (default 4); also the shuffle
  *     partition count.
  *   - `SPARK_GRAFT_MASTER`: master URL (default `local[<cpus>]`, or the
  *     caller's `defaultMaster`). The cluster lanes point it at a
  *     `local-cluster[...]` or `spark://` master; static confs such as
  *     `spark.executor.extraClassPath` ride `-Dspark.*` system
  *     properties, which SparkConf reads below builder options.
  *
  * Every session gets UTC session time, shuffle partitions equal to the
  * core count, a [[CodegenCacheEntries]]-entry codegen class cache and
  * no UI. A caller that really needs a different setting chains
  * `.config` on the returned builder; the later setting wins. */
object Session {

  /** Static conf, so it must ride the builder: the default 100-entry
    * whole-stage-codegen class cache thrashes across the 227-query
    * surface's many unique stages, so every best-of-n bench pass re-ran
    * janino on every stage (~50-300 ms each). Sized to hold the whole
    * surface's generated classes; the cache is per-JVM and keyed on
    * generated source, so the size is scale-independent. */
  val CodegenCacheEntries = 10000

  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def builder(defaultMaster: String = s"local[$cpus]"): SparkSession.Builder =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", defaultMaster))
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")
}
