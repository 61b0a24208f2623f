package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table statistics as PRODUCT: (rowCount, per-column NDV) measured
  * once, persisted beside the session warehouse, and consumed by the
  * engine's cost-aware decisions —
  *
  *  - [[EagerAggregation]] declines a pre-aggregate whose grouping key
  *    is measured ≈unique (NDV ≥ factor × rowCount): every group is a
  *    singleton, so the fire is pure cost. This replaces the
  *    hand-declared `spark.graft.eagerAggregation.uniqueKeys` conf with
  *    measurement wherever stats exist (the conf remains as the
  *    no-stats fallback and user override).
  *  - [[LayoutAdvisor]]'s benefit signal prices equality/IN predicates
  *    at 1/NDV instead of the Selinger 1/10 constant, so the
  *    stage/don't-stage threshold reflects the table actually measured.
  *
  * Estimation is Spark's native HLL++ (`approx_count_distinct`,
  * codegen'd, mergeable across partitions — the same order-free
  * sketch role the engine's KMV aggregators play in queries; default
  * rsd 5%, plenty for the ≈unique / 1-in-N decisions consumed here).
  * One aggregate pass per table, O(|cols| × sketch) driver state.
  *
  * Persistence is one small text file per analyzed identity under
  * `<warehouse>/_graft_stats/` — the local-mode stand-in for a
  * metastore's ANALYZE TABLE output, exactly like
  * [[graft.sources.TabularWriter.attach]] stands in for its table
  * registry. An identity is either a read PATH (comma-joined roots,
  * the advisor's table key) or a staged CATALOG TABLE name
  * ([[alias]] records the staged copy of a base table's stats).
  *
  * Staleness contract: stats only tune optimizer choices — a stale
  * NDV can cost performance, never correctness (EagerAggregation's
  * rewrite is exact whenever it fires; the advisor only ranks).
  * Re-[[analyze]] after a bulk append to restore measurement.
  *
  * Reference analog: the reference hand-tunes its shard counts and
  * fusion choices per pipeline (sharding.py:168-205 fixes the shard
  * key; data_pipeline benchmarks fix batch sizes); measurement-driven
  * choice is superset work the Spark-side optimizer rules can consume.
  */
object TableStats {

  /** HLL++ at rsd 0.05 estimates a true PK within ±5%, so 0.9 clears
    * real keys and never triggers below 0.86× true distinctness. */
  val UniqueishFactor = 0.9

  /** Measured statistics for one table identity. `fingerprint` = the
    * [[Freshness]] fingerprint of the files the measurement ran over
    * (None for pre-round-12 records and multi-leaf frames). Consumers
    * holding the live relation ([[EagerAggregation.uniqueKeyBlocks]])
    * compare and IGNORE a measurement whose base drifted — a stale NDV
    * can only cost performance, but a stale ≈unique verdict would
    * silently disable an optimization the grown table now wants (and
    * vice versa). Re-[[analyze]] restores measurement. */
  case class Stats(key: String, rowCount: Long, ndv: Map[String, Long],
      fingerprint: Option[String] = None) {
    /** True when `col` was measured ≈unique: NDV ≥ [[UniqueishFactor]]
      * × rowCount. */
    def uniqueish(col: String): Boolean =
      ndv.get(col).exists(n => rowCount > 0 && n.toDouble >= UniqueishFactor * rowCount)

    /** Measured equality selectivity 1/NDV, None when unmeasured. */
    def selectivityEq(col: String): Option[Double] =
      ndv.get(col).filter(_ > 0).map(n => math.min(1.0, 1.0 / n.toDouble))
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Option[Stats]]()

  /** Identity normalization: Hadoop qualifies local roots as
    * `file:/x`, users and the driver pass `/x` — both must resolve to
    * ONE registry record (per comma-joined root). */
  private def norm(key: String): String =
    key.split(',').map(_.stripPrefix("file:")).mkString(",")

  /** The stats registry dir under `warehouse` (created on demand). */
  private def dirFor(warehouse: String): Path =
    Paths.get(warehouse.stripPrefix("file:"), "_graft_stats")

  private def fileFor(warehouse: String, key: String): Path = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(norm(key).getBytes(UTF_8)).map("%02x".format(_)).mkString
    dirFor(warehouse).resolve(s"$digest.stats")
  }

  /** Warehouse dir of a live session (runtime value is file-qualified). */
  def warehouseOf(spark: SparkSession): String =
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

  /** One aggregate pass over `df`: exact rowCount + HLL++ NDV per
    * column of `cols` (columns absent from the frame are skipped, so a
    * projection-advised column list can be passed as-is). Persists
    * under `key` and returns the measurement. */
  def analyze(spark: SparkSession, df: DataFrame, key: String,
      cols: Seq[String]): Stats = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit}
    val present = cols.distinct.filter(df.columns.contains)
    val aggs = count(lit(1L)).as("_graft_rows") +:
      present.map(c => approx_count_distinct(col(c)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val stats = Stats(key, row.getLong(0),
      present.zipWithIndex.map { case (c, i) => c -> row.getLong(i + 1) }.toMap,
      fingerprint = Freshness.ofLeaf(df))
    persist(warehouseOf(spark), stats)
    stats
  }

  /** [[analyze]] a parquet read of `path` (comma-joined roots — the
    * advisor's table identity) unless the registry already holds it;
    * `refresh` forces re-measurement. Columns missing from an existing
    * record trigger re-analysis so callers can widen the column set. */
  def analyzePathIfMissing(spark: SparkSession, path: String,
      cols: Seq[String], refresh: Boolean = false): Stats = {
    val existing = if (refresh) None else lookup(warehouseOf(spark), path)
    existing.filter(st => cols.forall(st.ndv.contains)).getOrElse {
      val merged = existing.map(_.ndv.keys.toSeq).getOrElse(Nil) ++ cols
      analyze(spark, spark.read.parquet(path.split(',').toIndexedSeq: _*),
        path, merged.distinct)
    }
  }

  /** Record `stats` under a second identity (e.g. the catalog table a
    * layout was staged as — same rows, same NDV). The fingerprint is
    * DROPPED: it proves the measurement of the SOURCE files, and the
    * aliased identity's own files are different bytes (the staged
    * copy) — an aliased record stays advisory-unchecked, exactly the
    * pre-round-12 contract. */
  def alias(warehouse: String, stats: Stats, asKey: String): Unit =
    persist(warehouse, stats.copy(key = asKey, fingerprint = None))

  /** Lookup by identity: in-process cache, then the registry file.
    * Negative results are cached too — [[analyze]]/[[alias]] update the
    * cache, so a same-process write is always visible; a DIFFERENT
    * process's later write shows up next session (documented: stats
    * are advisory, never load-bearing for correctness). */
  def lookup(warehouse: String, key: String): Option[Stats] =
    cache.computeIfAbsent((warehouse.stripPrefix("file:"), norm(key)), { _ =>
      val f = fileFor(warehouse, key)
      if (!Files.exists(f)) None
      else {
        val lines = new String(Files.readAllBytes(f), UTF_8)
          .split("\n").map(_.trim).filter(_.nonEmpty)
        // format: `key <id>` / `rows <n>` / `ndv <col> <n>`...; a
        // corrupt file is treated as absent (advisory data)
        val kv = lines.map(_.split(" ", 2)).collect {
          case Array(k, v) => (k, v)
        }
        val rows = kv.collectFirst {
          case ("rows", v) if v.forall(_.isDigit) => v.toLong
        }
        rows.map { r =>
          val ndv = kv.collect {
            case ("ndv", v) => v.split(" ")
          }.collect {
            case Array(c, n) if n.forall(_.isDigit) => c -> n.toLong
          }.toMap
          Stats(key, r, ndv, kv.collectFirst { case ("fp", v) => v })
        }
      }
    })

  /** Drop every cached entry (tests; cross-process refresh). */
  def invalidateCache(): Unit = cache.clear()

  private def persist(warehouse: String, stats: Stats): Unit = {
    val f = fileFor(warehouse, stats.key)
    Files.createDirectories(f.getParent)
    val body = (Seq(s"key ${stats.key}", s"rows ${stats.rowCount}") ++
      stats.fingerprint.map(f => s"fp $f").toSeq ++
      stats.ndv.toSeq.sortBy(_._1).map { case (c, n) => s"ndv $c $n" })
      .mkString("", "\n", "\n")
    Files.write(f, body.getBytes(UTF_8))
    cache.put((warehouse.stripPrefix("file:"), norm(stats.key)), Some(stats))
  }
}
