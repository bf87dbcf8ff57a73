package graft.core

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Filesystem helpers that follow the path *scheme* (file://, hdfs://,
  * s3a://…) through Hadoop's FileSystem API — java.nio would silently only
  * work on the local filesystem, at odds with the 100 TB design point. */
private[graft] object Fs {
  def fs(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new HPath(path)
    val f = fs(spark, path)
    f.exists(p) && f.listStatus(p).nonEmpty
  }
  def delete(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new HPath(path), true)
}

/** Append-only provenance log, the engine's equivalent of the reference's
  * Action table (reference models.py:40-134): every populate / failed
  * populate / drop of a source appends one `(resource, action, created)` row.
  *
  * Stored as a Parquet directory of appended part files — append-only by
  * construction, safe for concurrent sources (each populate writes its own
  * part file; no read-modify-write).
  */
final class ActionLog(spark: SparkSession, path: String) {
  import ActionLog._

  def append(resource: String, action: String): Unit = {
    import spark.implicits._
    val now = new Timestamp(System.currentTimeMillis())
    Seq((resource.toLowerCase, action, now))
      .toDF("resource", "action", "created")
      .write.mode(SaveMode.Append).parquet(path)
  }

  def storePopulate(resource: String): Unit = append(resource, Populate)
  def storePopulateFailed(resource: String): Unit = append(resource, PopulateFailed)
  def storeDrop(resource: String): Unit = append(resource, Drop)

  private def existsLog: Boolean = Fs.exists(spark, path)

  /** Schema'd empty frame so the no-log-yet path behaves identically to the
    * populated path for callers that select/order by columns. */
  private def emptyLog: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ActionLog.schema)

  /** All actions, newest first (reference models.py:116-123, `Action.ls`). */
  def ls(): DataFrame =
    if (!existsLog) emptyLog
    else spark.read.parquet(path).orderBy(col("created").desc)

  /** Latest action for a resource — top-1 (reference models.py:8-17). */
  def last(resource: String): Option[(String, Timestamp)] =
    ls().filter(lower(col("resource")) === resource.toLowerCase)
      .limit(1)
      .collect().headOption
      .map(r => (r.getAs[String]("action"), r.getAs[Timestamp]("created")))

  def count(): Long = ls().count()
}

object ActionLog {
  val Populate = "populate"
  val PopulateFailed = "populate_failed"
  val Drop = "drop"

  val schema: StructType = StructType(Seq(
    StructField("resource", StringType),
    StructField("action", StringType),
    StructField("created", TimestampType)))
}

/** A registered data source — the engine's equivalent of the reference's
  * per-source Manager (reference abstract_manager.py:53-301). Owns a
  * namespace of tables under `warehouse/<module>/<table>` and the
  * populate / isPopulated / summarize / drop contract.
  */
trait Source {
  /** Lowercase module name; prefixes all table paths (reference
    * abstract_manager.py:166-175). */
  def moduleName: String

  /** Table names this source owns. */
  def tables: Seq[String]

  /** ETL: read raw inputs, conform, write every table (reference contract
    * abstract_manager.py:215-225). Implementations write with
    * `ctx.write(table, df)`. */
  def populate(ctx: SourceContext): Unit

  /** Default: populated iff every declared table exists and has ≥1 row
    * (reference abstract_manager.py:177-179 — `0 < _count_model`). */
  def isPopulated(ctx: SourceContext): Boolean =
    tables.forall(t => ctx.exists(t) && ctx.read(t).head(1).nonEmpty)

  /** name → row count per table (reference summarize contract). */
  def summarize(ctx: SourceContext): Map[String, Long] =
    tables.map(t => t -> (if (ctx.exists(t)) ctx.read(t).count() else 0L)).toMap
}

/** Per-source handle on the warehouse: path layout + provenance-wrapped
  * populate/drop (the reference wraps these via a metaclass,
  * abstract_manager.py:28-50; here it is a plain try/catch). */
final class SourceContext(val spark: SparkSession, warehouse: String, module: String) {
  private def tablePath(table: String) = s"$warehouse/$module/$table"

  val actions = new ActionLog(spark, s"$warehouse/_actions")

  def exists(table: String): Boolean = Fs.exists(spark, tablePath(table))

  /** Warehouse path of `table` — exposed for writers that must manage the
    * files through the session catalog (bucket specs live in the catalog,
    * not in parquet footers). */
  def pathOf(table: String): String = tablePath(table)

  /** Session-catalog identifier under which `table` is registered when it
    * is maintained as a BUCKETED table. */
  def catalogName(table: String): String =
    s"graft_${module}_$table".replaceAll("[^A-Za-z0-9_]", "_")

  def read(table: String): DataFrame = spark.read.parquet(tablePath(table))

  def write(table: String, df: DataFrame, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).parquet(tablePath(table))

  /** Run `source.populate` with provenance: success appends `populate`,
    * failure appends `populate_failed` and rethrows (reference
    * models.py:70-113, connection_manager.py:87-94). */
  def populateWithProvenance(source: Source): Unit =
    try {
      source.populate(this)
      actions.storePopulate(source.moduleName)
    } catch {
      case e: Throwable =>
        actions.storePopulateFailed(source.moduleName)
        throw e
    }

  /** Drop all tables of a source; appends a `drop` action (reference
    * abstract_manager.py:240-247). */
  def drop(source: Source): Unit = {
    source.tables.foreach(t => Fs.delete(spark, tablePath(t)))
    actions.storeDrop(source.moduleName)
  }
}

/** Explicit registry of sources (reference discovers via entry points,
  * utils.py:146-167; zero-egress engine registers explicitly). */
final class SourceRegistry {
  private var sources = Map.empty[String, Source]
  /** Adds `s`; throws if a source with the same `moduleName` is already
    * registered (a silent replace would drop the earlier source). */
  def register(s: Source): this.type = {
    require(!sources.contains(s.moduleName),
      s"source ${s.moduleName} is already registered")
    sources += (s.moduleName -> s); this
  }
  def get(name: String): Option[Source] = sources.get(name)
  def names: Seq[String] = sources.keys.toSeq.sorted
  def all: Seq[Source] = names.flatMap(sources.get)
}
