package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** The reader factories graftpq and graftorc build from Spark's own file
  * scans, kept per format. Building one broadcasts a hadoop conf (about
  * 18 ms a query on a 4-core host) while dashboards re-read the same
  * shapes, so the latest 32 are kept for as long as the context, the
  * `shape` and every session and hadoop setting are the same.
  */
private[sources] final class SparkReaderFactories[F <: AnyRef] {

  private val built = new java.util.LinkedHashMap[AnyRef, F](16, 0.75f,
      true) {
    override def removeEldestEntry(e: java.util.Map.Entry[AnyRef, F])
        : Boolean = size() > 32
  }

  /** The factory for `shape` in the active session, built on a miss by
    * `build` from the session and its lean hadoop settings.
    */
  def apply(shape: AnyRef)(build: (SparkSession, Configuration) => F): F = {
    val spark = SparkSession.active
    val hadoopConf = spark.sessionState.newHadoopConf()
    val key = (spark.sparkContext, shape,
      spark.sessionState.conf.getAllConfs,
      hadoopConf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)
    built.synchronized(Option(built.get(key))).getOrElse {
      val f = build(spark, SparkReaderFactories.lean(hadoopConf))
      built.synchronized(built.put(key, f))
      f
    }
  }
}

private[sources] object SparkReaderFactories {

  /** Spark's readers copy their whole hadoop conf, under the conf's
    * lock, for every file span they open: hand them only the settings
    * made on top of Hadoop's *-default.xml (the code that reads them
    * carries those defaults itself), about 1,100 entries fewer.
    */
  def lean(hadoopConf: Configuration): Configuration = {
    val settings = new Configuration(false)
    hadoopConf.iterator().asScala.foreach { e =>
      val from = hadoopConf.getPropertySources(e.getKey)
      if (from == null || !from.last.endsWith("-default.xml"))
        settings.set(e.getKey, e.getValue)
    }
    settings
  }
}
