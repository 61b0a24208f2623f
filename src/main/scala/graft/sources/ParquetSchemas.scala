package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** One memoized parquet open. A parquet read with no declared schema
  * runs a one-task Spark job to read a footer while the query is only
  * being built; over a session that reads the same tables again and
  * again, those data-free jobs were the bulk of the jobs a query runs
  * before its action (PERF.md "Round-14").
  *
  * The first read of a path infers its schema as Spark always does and
  * records it beside the read's file inventory; later reads pass the
  * recorded schema (`spark.read.schema(memo)`), which is exactly the
  * schema inference would produce again as long as the read lists the
  * same files. An entry is keyed on the qualified paths, the read
  * options and the session's parquet confs (`nanosAsLong`,
  * `inferTimestampNTZ`, `binaryAsString`, … change what inference
  * yields), and it is served only while the `(path, length,
  * modification time)` inventory of the read's own FileIndex — already
  * listed by the read, so no second listing — equals the recorded one.
  * Anything else (an overwrite, an append, a touched file) re-infers and
  * replaces the entry.
  *
  * The memo holds schemas and inventories only, never data, and keeps
  * the [[MaxEntries]] most recently used entries.
  */
object ParquetSchemas {

  private val MaxEntries = 64

  private final case class Key(paths: Seq[String], options: Map[String, String],
      confs: Map[String, String])
  private final case class Entry(schema: StructType, inventory: Seq[(String, Long, Long)])

  private val memo = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size > MaxEntries
  }

  /** `spark.read.options(options).parquet(paths: _*)`, with the footer
    * schema inferred once per unchanged file set. */
  def read(spark: SparkSession, paths: Seq[String],
      options: Map[String, String] = Map.empty): DataFrame = {
    val key = Key(qualified(spark, paths, options), options, parquetConfs(spark))
    val known = memo.synchronized(Option(memo.get(key)))
    known.map(e => spark.read.options(options).schema(e.schema).parquet(paths: _*))
      .filter(df => inventory(df) == known.map(_.inventory))
      .getOrElse {
        val df = spark.read.options(options).parquet(paths: _*)
        inventory(df).foreach(inv => memo.synchronized(memo.put(key, Entry(df.schema, inv))))
        df
      }
  }

  /** The FileIndex of the single file scan under `df`'s analyzed plan
    * (None when the plan has no or several file leaves). */
  def fileIndex(df: DataFrame): Option[FileIndex] =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation].location
    } match {
      case Seq(loc) => Some(loc)
      case _ => None
    }

  /** Sorted `(path, length, modification time)` of the files the read
    * listed; None (never memoized) for indexes that expose no statuses. */
  private def inventory(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    fileIndex(df).collect { case p: PartitioningAwareFileIndex =>
      p.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
    }

  private def qualified(spark: SparkSession, paths: Seq[String],
      options: Map[String, String]): Seq[String] = {
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).makeQualified(hp).toString
    }
  }

  /** The session confs that can change what parquet inference yields:
    * every set conf naming parquet, plus corrupt/missing-file handling. */
  private def parquetConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.toLowerCase(java.util.Locale.ROOT).contains("parquet") ||
        k.startsWith("spark.sql.files.ignore")
    }
}
