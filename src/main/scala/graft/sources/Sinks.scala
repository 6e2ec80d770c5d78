package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.core.AttrsTable

/** S7/S11 — sinks. The reference's delete-then-write zarr store per station
  * (`QAQC_pipeline.py:345-368`, `MERGE_pipeline.py:413-468`) becomes ONE partitioned
  * columnar table.
  *
  * Attrs: zarr carries global + per-variable attributes natively; parquet via the
  * DataFrame API does not, so [[graft.core.AttrsTable]] rides as a `_graft_attrs`
  * sidecar (hidden from data readers — Spark ignores `_`-prefixed paths) and is
  * rendered as the reference's `#`-comment header on station CSV export
  * (`data-access/zarr_to_csv.py:58-160`).
  */
object Sinks {

  /** S7 — partitioned columnar writer: overwrite-by-partition (dynamic), partitioned
    * by `network`, sorted within files by (station, time) so min/max stats prune
    * station predicates.
    *
    * The shuffle key is (partition cols, hash(first sort col) mod filesPerPartition):
    * hashing by the partition column ALONE would send each network to a single task
    * (one writer per network at 100 TB); the salt spreads a network over up to
    * `filesPerPartition` writers while keeping any one station's rows in one file,
    * so station min/max pruning stays tight.
    *
    * `attrs`, when given, is written as the table's sidecar; [[readAttrs]] restores it. */
  def writeObs(df: DataFrame, path: String, partitionCols: Seq[String] = Seq("network"),
               sortCols: Seq[String] = Seq("station", "time"),
               filesPerPartition: Int = 8,
               attrs: Option[AttrsTable] = None): Unit = {
    val spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val salt = pmod(hash(col(sortCols.head)), lit(filesPerPartition))
    df.repartition(partitionCols.map(col) :+ salt: _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)
    attrs.foreach(_.write(spark, path))
  }

  /** Attrs sidecar of an obs table written by [[writeObs]] (empty if none). */
  def readAttrs(df: DataFrame, path: String): AttrsTable =
    AttrsTable.read(df.sparkSession, path)

  /** S7 (scale variant) — BUCKETED obs table: hash-bucketed and sorted by
    * `bucketCol` so every downstream station-keyed stage (the QAQC windows,
    * hourly standardization, streak/spike scans — all keyed on `station`) reads
    * the table ALREADY hash-partitioned: Catalyst sees the bucketed scan's
    * `HashPartitioning(station)` and plans groupBy/window/join-on-station with
    * NO exchange. At 100 TB that removes the one big shuffle per QAQC/merge run
    * that [[writeObs]]'s layout still pays — the write amortizes it once.
    *
    * The reference re-sorts and re-groups per station on every stage run
    * (`QAQC_pipeline.py` per-station SLURM tasks); a bucketed table is the
    * Spark-native equivalent of that station-granular layout, minus the 15k
    * driver-side tasks. Pinned by SinksSpec: station-keyed agg + self-join over
    * the bucketed table plan ZERO shuffle exchanges.
    *
    * Uses `saveAsTable` (bucket metadata lives in the catalog; a plain
    * `parquet(path)` write cannot record it). Partition-by-network composes via
    * `partitionCols` when networks are queried separately. */
  def writeObsBucketed(df: DataFrame, table: String, numBuckets: Int = 256,
                       bucketCol: String = "station",
                       sortCols: Seq[String] = Seq("station", "time"),
                       partitionCols: Seq[String] = Seq.empty): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(sortCols.head, sortCols.tail: _*)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .saveAsTable(table)
  }

  /** S11 — per-station CSV export (`data-access/zarr_to_csv.py:58-160`): one station's
    * rows, time-sorted. The station filter prunes on partition/min-max stats before
    * anything is read.
    *
    * With `attrs`, the export carries the reference's metadata header — `#`-comment
    * lines (station, network, global attrs, per-variable attrs) PREPENDED to the CSV,
    * exactly the `ADD_METADATA_HEADER` path of `zarr_to_csv.py:135-146`. The prepend
    * rewrites the single part file driver-side via a stream copy: a station export is
    * one station's rows by construction (the reference loads the whole station into
    * pandas for the same step), so the copy is bounded and never touches executors. */
  def exportStationCsv(obs: DataFrame, stationId: String, path: String,
                       stationCol: String = "station", timeCol: String = "time",
                       attrs: Option[AttrsTable] = None,
                       network: String = ""): Unit = {
    obs.filter(col(stationCol) === stationId)
      .orderBy(col(timeCol))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    attrs.foreach { at =>
      val spark = obs.sparkSession
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new Path(path))
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $path"))
      val tmp = new Path(path, "._with_header.csv")
      val out = fs.create(tmp, true)
      val header = (at.csvHeaderLines(stationId, network).mkString("\n") + "\n")
        .getBytes("UTF-8")
      out.write(header)
      val in = fs.open(part)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64 * 1024, false)
      finally { in.close(); out.close() }
      // rename FIRST, delete after: on filesystems where rename signals failure by
      // returning false (object stores), the failure is then detectable and
      // non-destructive — the original part file is still in place.
      val renamed = new Path(path, "." + part.getName + ".orig")
      if (!fs.rename(part, renamed)) sys.error(s"rename failed: $part -> $renamed")
      if (!fs.rename(tmp, part)) {
        fs.rename(renamed, part) // restore; header copy remains at `tmp` for debugging
        sys.error(s"rename failed: $tmp -> $part (original restored)")
      }
      fs.delete(renamed, false)
    }
  }
}
