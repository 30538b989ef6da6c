package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-cached parquet reads for ENGINE-MANAGED store/artifact tables
  * (incremental dedup stores, ANN index artifacts, posting layouts,
  * upsert targets) and for the immutable testdata tables `Tables.load`
  * reads — the one footer-schema cache of the process.
  *
  * Every schemaless `spark.read.parquet` submits a footer-inference JOB
  * before the real scan; the store gates re-read their tables once or
  * twice per ingest, so at per-batch cadence those jobs are pure fixed
  * driver cost (r16 job log: ~20-30 ms each, 1-2 per store read, ~150+
  * per bench run). A store's schema is fixed at creation BY CONSTRUCTION:
  * every append goes through a schema-guarded path (SchemaGuard /
  * appendAbsent alignment), and the maintenance rewrites (compactStore,
  * deleteWhere, forget folds) preserve columns exactly — so inferring the
  * footer once per (process, path) is the catalog-supplied-schema
  * discipline, byte-identical to per-read inference.
  *
  * CONTRACT: callers must not use this for a path whose schema can change
  * within one process (no engine-managed store does today — tests that
  * rewrite a path with a different shape use fresh directories). The
  * cached entry is the VERBATIM first inference (no nullability
  * normalization), so the first read is bit-identical to the uncached
  * form and later reads see the creation-time schema the guards enforce.
  * A sink that creates a table records its schema with [[created]], as
  * that inference would return it, so not even the first read infers.
  */
object StoreRead {
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def parquet(spark: SparkSession, path: String): DataFrame = {
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** `path` was just created, unpartitioned, by writing a frame with
    * `schema`: cache what inferring its footer would return.
    */
  def created(path: String, schema: StructType): Unit =
    schemaCache.put(path, org.apache.spark.sql.FileSourceSchema(schema))

  private[graft] def cached(path: String): Option[StructType] =
    Option(schemaCache.get(path))
}
