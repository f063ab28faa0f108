package graft.sources.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory,
  ParquetScan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Ships the Hadoop configuration to executors once per session, not once
  * per catalog scan or per task. The session's configuration holds about a
  * thousand settings; serializing and broadcasting it costs several
  * milliseconds, and a `SerializableConfiguration` embedded in a reader or
  * writer factory is deserialized again by every task.
  *
  *  - [[broadcast]]: one broadcast of the session's configuration, reused
  *    while the SparkContext and the configuration's contents are
  *    unchanged. Catalog reader and writer factories and executor-side
  *    maintenance jobs carry this handle.
  *  - [[readerFactory]]: Spark's own `ParquetScan.createReaderFactory()`
  *    result (which broadcasts the scan's configuration), built once per
  *    scan shape: schemas, pushed filters, options and the full contents of
  *    the scan's Hadoop and the session's SQL configuration. Each scan gets
  *    its own copy around the shared broadcast: the factory keeps per-task
  *    reader state, and two scans in one task (a sort-free bucketed join)
  *    must not close each other's readers. A scan with a pushed aggregate
  *    or variant extraction, or a non-Parquet scan, builds its own.
  *
  * Both caches are small LRUs keyed by the SparkContext itself, so a
  * stopped and rebuilt context never gets an old entry. Eviction only
  * drops the reference: a running query may still use the broadcast, and
  * Spark's context cleaner removes it once nothing refers to it.
  */
object ScanConf {

  private final class Lru[K, V](capacity: Int, context: K => SparkContext) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > capacity
    }
    def getOrElseUpdate(k: K)(make: => V): V = synchronized {
      m.keySet.removeIf(context(_).isStopped)
      val hit = m.get(k)
      if (hit != null) hit
      else { val v = make; m.put(k, v); v }
    }
  }

  private final case class ConfKey(sc: SparkContext, conf: Map[String, String])

  // `sc` and `sqlConf` compare by identity: the factory holds the session's
  // live SQLConf, so a session never gets another session's factory
  private final case class FactoryKey(sc: SparkContext, sqlConf: SQLConf,
      sqlSettings: Map[String, String], hadoop: Map[String, String],
      dataSchema: StructType, readDataSchema: StructType, partitionSchema: StructType,
      filters: Seq[Filter], options: Map[String, String])

  private val confs = new Lru[ConfKey, Broadcast[SerializableConfiguration]](4, _.sc)
  private val factories = new Lru[FactoryKey, ParquetPartitionReaderFactory](32, _.sc)

  private def contents(c: Configuration): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    c.iterator().forEachRemaining(e => b += e.getKey -> e.getValue)
    b.result()
  }

  /** The session's Hadoop configuration as one broadcast, shared by every
    * caller while neither the context nor the configuration changes.
    */
  def broadcast(spark: SparkSession): Broadcast[SerializableConfiguration] = {
    val conf = spark.sessionState.newHadoopConf()
    val sc = spark.sparkContext
    confs.getOrElseUpdate(ConfKey(sc, contents(conf)))(
      sc.broadcast(new SerializableConfiguration(conf)))
  }

  /** `scan.createReaderFactory()`, built once per scan shape. Call it once
    * per scan: Spark's build writes the read schema and reader flags into
    * the scan's configuration, so a second call on the same scan no longer
    * matches the key its first call stored.
    */
  def readerFactory(scan: FileScan): PartitionReaderFactory = scan match {
    case p: ParquetScan if p.pushedAggregate.isEmpty && p.pushedVariantExtractions.isEmpty =>
      import scala.jdk.CollectionConverters._
      val sqlConf = p.sparkSession.sessionState.conf
      val key = FactoryKey(p.sparkSession.sparkContext, sqlConf, sqlConf.getAllConfs,
        contents(p.hadoopConf), p.dataSchema, p.readDataSchema, p.readPartitionSchema,
        p.pushedFilters.toSeq, p.options.asCaseSensitiveMap.asScala.toMap)
      factories.getOrElseUpdate(key)(
        p.createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]).copy()
    case other => other.createReaderFactory()
  }
}
