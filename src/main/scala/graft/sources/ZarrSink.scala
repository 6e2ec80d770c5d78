package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.core.AttrsTable

/** Zarr v2 store WRITER — the publish half of the reference's final stage
  * (`scripts/4_merge_data/merge.py` writes one consolidated per-station zarr
  * store via xarray `to_zarr`; reference reads them back everywhere downstream).
  * Flips the SURVEY §2.1 S8 cut: with [[ZarrSource]] this completes the
  * round-trip, so a reference user can both consume AND publish the corpus
  * format without leaving the engine.
  *
  * Encodes a [[StationData]] as exactly what [[ZarrSource.readStore]] decodes back
  * to it (and xarray `open_zarr(consolidated=True)` expects): one directory per station
  * holding `.zgroup` / `.zattrs`, per-variable `.zarray` + `.zattrs`
  * (`_ARRAY_DIMENSIONS` xarray convention) + C-order chunk files, and a
  * consolidated `.zmetadata`. Encodings are the subset the reader round-trips
  * bit-exactly:
  *   - time    → `<M8[ns]` int64 nanoseconds (xarray's own datetime64 encoding)
  *   - doubles → `<f8`, fill `"NaN"` (nulls → NaN)
  *   - longs   → `<i8`, fill Long.MinValue (declared in `.zarray`, nulls → fill)
  *   - strings → vlen-utf8 filter (numcodecs VLenUTF8); null ↔ "" like xarray
  *   - station → 1-element `station`-dim vlen array (the id survives a store
  *     rename, matching the reader's exact-name-first resolution)
  * all chunked on the time axis and zlib-deflated (numcodecs `{"id":"zlib"}`,
  * JDK Deflater — no native codec dependency on either side; default level 1 =
  * the numcodecs Zlib default — obs doubles are noise-dominated, so higher
  * levels buy single-digit % size for multiples of the deflate CPU).
  *
  * Scale: the write is a plan node, the [[StationRuns]] sink. It asks the
  * planner for rows clustered on station and sorted on (station, time): raw
  * input costs one hash-shuffle on station and one sort, and a frame a series
  * scan keyed on station already holds that way costs neither. Every store then
  * writes from the task that owns its rows — per-station task granularity, the
  * same unit the reference schedules per SLURM array element, so 1e5 stations
  * spread over the cluster with no driver involvement. Returns the write LEDGER
  * (station, path, rows, chunks, bytes) as a DataFrame — the bookkeeping the
  * reference's stage scripts keep in stationlist CSVs.
  */
object ZarrSink {

  private val FillLong = Long.MinValue

  /** One station's store (time ascending): relative-path -> file bytes, in write
    * order. */
  private[sources] def encodeStore(d: StationData, chunkRows: Int,
                                   zlibLevel: Int): Seq[(String, Array[Byte])] = {
    val StationData(station, time, cols, attrs) = d
    val mapper = new ObjectMapper()
    val n = time.length

    def jsonBytes(node: ObjectNode): Array[Byte] =
      (node.toPrettyString + "\n").getBytes("UTF-8")

    def obj(): ObjectNode = mapper.createObjectNode()

    def attrsNode(m: Map[String, String], dims: Seq[String]): ObjectNode = {
      val o = obj()
      if (dims.nonEmpty) {
        val a = o.putArray("_ARRAY_DIMENSIONS")
        dims.foreach(a.add)
      }
      m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      o
    }

    def zarrayNode(shape: Seq[Int], chunks: Seq[Int], dtype: String,
                   fill: Option[Any], vlen: Boolean): ObjectNode = {
      val o = obj()
      val sh = o.putArray("shape"); shape.foreach(sh.add)
      val ch = o.putArray("chunks"); chunks.foreach(ch.add)
      o.put("dtype", dtype)
      val comp = o.putObject("compressor")
      comp.put("id", "zlib"); comp.put("level", zlibLevel)
      fill match {
        case Some(s: String) => o.put("fill_value", s) // "NaN" per zarr v2 spec
        case Some(l: Long) => o.put("fill_value", l)
        case _ => o.putNull("fill_value")
      }
      o.put("order", "C")
      if (vlen) {
        val f: ArrayNode = o.putArray("filters")
        f.addObject().put("id", "vlen-utf8")
      } else o.putNull("filters")
      o.put("zarr_format", 2)
      o
    }

    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(zlibLevel)
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }

    // 8-byte elements (a double as its raw bits, as `putDouble` writes it); the
    // edge chunk is padded to full size with `pad`
    def chunks8(vals: Int => Long, pad: Long): Seq[Array[Byte]] =
      (0 until n by chunkRows).map { start =>
        val bb = ByteBuffer.allocate(chunkRows * 8).order(ByteOrder.LITTLE_ENDIAN)
        var i = start
        while (i < start + chunkRows) { bb.putLong(if (i < n) vals(i) else pad); i += 1 }
        deflate(bb.array())
      }
    val nanBits = java.lang.Double.doubleToRawLongBits(Double.NaN)

    // numcodecs VLenUTF8: [uint32 nitems][per item: uint32 len + utf8]; null → ""
    def vlenChunk(items: Seq[String]): Array[Byte] = {
      val enc = items.map(s => Option(s).getOrElse("").getBytes("UTF-8"))
      val bb = ByteBuffer.allocate(4 + enc.map(_.length + 4).sum)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(items.size)
      enc.foreach { b => bb.putInt(b.length); bb.put(b) }
      deflate(bb.array())
    }

    def vlenChunks(vals: Array[String]): Seq[Array[Byte]] =
      (0 until n by chunkRows).map { start =>
        vlenChunk(vals.slice(start, math.min(start + chunkRows, n)).toSeq)
      }

    val files = Seq.newBuilder[(String, Array[Byte])]
    val meta = obj() // consolidated .zmetadata "metadata" object, insertion-ordered

    def put(rel: String, node: ObjectNode): Unit = {
      files += rel -> jsonBytes(node)
      meta.set[ObjectNode](rel, node)
    }

    val zgroup = obj(); zgroup.put("zarr_format", 2)
    put(".zgroup", zgroup)
    put(".zattrs", attrsNode(attrs.global, Nil))

    def writeVar(name: String, dims: Seq[String], shape: Seq[Int], chunks: Seq[Int],
                 dtype: String, fill: Option[Any], vlen: Boolean,
                 varAttrs: Map[String, String], chunkBytes: Seq[Array[Byte]]): Unit = {
      put(s"$name/.zarray", zarrayNode(shape, chunks, dtype, fill, vlen))
      put(s"$name/.zattrs", attrsNode(varAttrs, dims))
      chunkBytes.zipWithIndex.foreach { case (b, i) => files += s"$name/$i" -> b }
    }

    writeVar("station", Seq("station"), Seq(1), Seq(1), "|O", fill = None,
      vlen = true, attrs.forVar("station"), Seq(vlenChunk(Seq(station))))
    // epoch micros → datetime64[ns] int64 (xarray's own on-disk time encoding)
    writeVar("time", Seq("time"), Seq(n), Seq(chunkRows), "<M8[ns]", fill = None,
      vlen = false, attrs.forVar("time"),
      chunks8(i => time(i) * 1000L, 0L))

    cols.foreach {
      case StationColumn.Doubles(name, vals, nulls) =>
        writeVar(name, Seq("time"), Seq(n), Seq(chunkRows), "<f8", Some("NaN"),
          vlen = false, attrs.forVar(name), chunks8(i =>
            if (nulls(i)) nanBits else java.lang.Double.doubleToRawLongBits(vals(i)), nanBits))
      case StationColumn.Longs(name, vals, nulls) =>
        writeVar(name, Seq("time"), Seq(n), Seq(chunkRows), "<i8", Some(FillLong),
          vlen = false, attrs.forVar(name),
          chunks8(i => if (nulls(i)) FillLong else vals(i), FillLong))
      case StationColumn.Strings(name, vals) =>
        writeVar(name, Seq("time"), Seq(n), Seq(chunkRows), "|O", fill = None,
          vlen = true, attrs.forVar(name), vlenChunks(vals))
      case c => throw new IllegalArgumentException(s"${c.name}: no zarr ${c.dataType}")
    }

    val consolidated = obj()
    consolidated.put("zarr_consolidated_format", 1)
    consolidated.set[ObjectNode]("metadata", meta)
    files += ".zmetadata" -> jsonBytes(consolidated)
    files.result()
  }

  /** Publish an obs DataFrame (station, time, data vars…) as per-station
    * consolidated zarr v2 stores `outDir/<station>.zarr` through the
    * [[StationRuns]] sink: one hash-shuffle on station and one sort, or none when
    * the input is already clustered on station and sorted on (station, time);
    * each task then streams its stations out in time order. `attrs` ride into
    * `.zattrs` / per-var `.zattrs`. Returns the ledger DataFrame (station, path,
    * rows, chunks, bytes); each action on it writes the stores. */
  def writeZarrStores(df: DataFrame, outDir: String,
                      attrs: AttrsTable = AttrsTable(Map.empty, Map.empty),
                      chunkRows: Int = 65536, zlibLevel: Int = 1): DataFrame =
    StationRuns.mapStations(df, outDir, attrs) { d =>
      val store = s"${d.station}.zarr"
      Container(store,
        encodeStore(d, chunkRows, zlibLevel).map { case (rel, bytes) => s"$store/$rel" -> bytes },
        (d.time.length + chunkRows - 1) / chunkRows)
    }
}
