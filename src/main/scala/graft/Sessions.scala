package graft
import org.apache.spark.sql.SparkSession

/** The one local-session config shared by the mains (Bench, Verify, Probe,
  * CacheProbe, PlanDump). Specs keep their own `local[4]` session.
  */
object Sessions {
  def local(cpus: String): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // fixture timestamps are naive parquet micros; the engine computes in
      // (UTC-session) TimestampType, not TIMESTAMP_NTZ — see Tables.read
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // static conf: the default 100-entry LRU evicts generated classes
      // shared across the 100+ suite queries, forcing Janino recompiles;
      // size it to the suite so each distinct stage compiles once
      .config("spark.sql.codegen.cache.maxEntries", "4096")
    // Dev-only A/B knob (unset in runs of record): "k=v;k=v" session confs.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => builder.config(k.trim, v)
        case _ if kv.trim.isEmpty           => ()
        case _ => System.err.println(s"ignoring malformed SPARK_GRAFT_EXTRA_CONF entry: '$kv'")
      }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
