package graft.queries

import java.nio.file.{Files, Paths}

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q99: the zarr connector inside the driver's oracle-checked gate.
  *
  * Every other §2A capability is verified by fixture specs; this entry
  * routes the `documents` table through a REAL zarr write
  * (`df.write.format("zarr")`, blosc chunks, stats sidecar) and reads
  * it back through the DSv2 scan before aggregating — so the driver's
  * DuckDB compare (which runs on the original parquet) certifies the
  * full write→store→read roundtrip preserves every value, including
  * vlen-utf8 strings (the md5 extrema pin content bytes, not just
  * lengths).
  *
  * Scale shape: the write is one pass over the table (parallel append
  * staging, chunk-aligned); the read is the chunked scan with
  * projection pushdown; the aggregate is a narrow (lang, source)
  * partial+final. The store is built once per scale factor and
  * memoized on disk — exactly how a production pipeline would persist
  * a curated snapshot in the array-native format once and query it
  * many times.
  */
object ZarrRoundtrip {

  /** Build-once memoization skeleton shared by every ensure* fixture
    * builder below. Keyed on the source parquet's (path, size, mtime)
    * plus `keyTag`, so regenerated testdata can never be served from a
    * stale store. The root document (`zarr.json`) is the writer's
    * commit point — a store dir without it is a crashed half-write and
    * is cleared before rebuilding. The build runs under a unique
    * sibling, then atomically renames into place: concurrent builders
    * (e.g. a bench run racing a verify) each build privately and
    * exactly one rename wins; losers discard their build and use the
    * winner's store. */
  private def ensureMemoizedStore(
      dir: String, keyTag: String, root: String, name: String)(
      build: String => Unit): String = {
    val src = new java.io.File(s"$dir/documents.parquet")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$keyTag|$dir|${src.length}|${src.lastModified}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val store = s"$root/$key/$name"
    if (!Files.exists(Paths.get(store, "zarr.json"))) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      val storeDir = new java.io.File(store)
      if (storeDir.exists()) rm(storeDir)
      val buildDir = new java.io.File(
        s"$store.build-${java.util.UUID.randomUUID().toString.take(8)}")
      Files.createDirectories(Paths.get(store).getParent)
      build(buildDir.getPath)
      if (!buildDir.renameTo(storeDir)) rm(buildDir)
    }
    store
  }

  /** Write `documents` of `dir` to a deterministic temp zarr store once;
    * subsequent calls (bench re-runs, verify) reuse it. */
  private def ensureStore(s: SparkSession, dir: String): String =
    ensureMemoizedStore(dir, "roundtrip", "/tmp/graft_zarr_roundtrip",
      "documents") { path =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
        .write.format("zarr").mode("append")
        .option("chunk_size", "4096")
        .save(path)
    }

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql(
      "q99_zarr_roundtrip",
      """SELECT lang, source, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars,
        |  sum(doc_id)::BIGINT AS id_sum,
        |  sum(length(text))::BIGINT AS text_len_sum,
        |  min(md5(text)) AS text_md5_min,
        |  max(md5(text)) AS text_md5_max
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin) { (s, dir) =>
      val store = ensureStore(s, dir)
      s.read.format("zarr").load(store)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text"))).as("text_len_sum"),
          min(md5(col("text"))).as("text_md5_min"),
          max(md5(col("text"))).as("text_md5_max"))
        .orderBy("lang", "source")
    },

    // ---- q115: the Zarr V2 read path inside the oracle gate. The v2
    //      fixture (written by an INDEPENDENT stdlib-only Python
    //      implementation of the v2 spec — tools/gen_zarr_v2_fixture.py)
    //      holds closed-form content: data[i][j] = 10i + j with xarray
    //      _ARRAY_DIMENSIONS coordinates lat = 38 + 0.5i,
    //      lon = −117 + 0.25j. The query reads it through the DSv2 scan
    //      (v2 .zarray translation, zlib chunks, coordinate broadcast)
    //      and the DuckDB oracle states the same closed forms — so a v2
    //      decode defect (wrong chunk key, bad endianness, broken
    //      broadcast) breaks the hash, not just a spec. All constants
    //      (0.5, 0.25) are binary-exact, so both engines produce
    //      identical doubles. Fixed 24 rows at every SF (the fixture
    //      certifies the FORMAT; scaling is q99's job). ----
    QueryDef.sql(
      "q115_zarr_v2_read",
      """SELECT (38.0 + 0.5 * i)::DOUBLE AS lat, (-117.0 + 0.25 * j)::DOUBLE AS lon,
        |  (10.0 * i + j)::DOUBLE AS data
        |FROM range(0, 4) t1(i), range(0, 6) t2(j)
        |ORDER BY data""".stripMargin) { (s, dir) =>
      s.read.format("zarr").load(fixturePath("zarr_v2_latlon"))
        .select(col("lat"), col("lon"), col("data"))
        .orderBy("data")
    },

    // ---- q117: Zarr v2 STRING dtypes and numcodecs FILTER stacks
    //      through the oracle gate. The fixture store (same independent
    //      stdlib-only generator as q115) carries every v2 text/filter
    //      shape the reference reads transparently via zarrs' v2
    //      fallback: |O + vlen-utf8 object codec (one chunk ABSENT →
    //      fill ''), |S4 NUL-padded bytes, <U5 / >U3 UCS-4 both byte
    //      orders, delta-filtered int32/float64, and a two-filter
    //      delta+shuffle int64 stack under zlib. The oracle states the
    //      closed-form content as literals; any decode defect (wrong
    //      unshuffle order, UCS-4 endianness, padding strip, cumsum
    //      wrap, LZ4 match copy) breaks the row hash. Fixed 11 rows at
    //      every SF — the fixture certifies the FORMAT; scaling is
    //      q99's job. `lzv` rides the numcodecs LZ4 block container
    //      (u32-LE size prefix + raw LZ4 block), emitted by the
    //      generator's own pure-Python encoder with both literal-only
    //      and handcrafted match-bearing blocks. `ts` is `<M8[ns]`
    //      datetime64 (the xarray time dtype) surfaced as raw epoch-ns
    //      BIGINT with one NaT sentinel (int64 min) passed through. ----
    QueryDef.sql(
      "q117_zarr_v2_typed",
      """SELECT * FROM (VALUES
        |  ('',        'AA',   'αβ',    'ab',  1000::INT, 0.0::DOUBLE,  1000000000::BIGINT, -40::INT, -7.0::DOUBLE, 500::BIGINT, 1700000000000000000::BIGINT),
        |  ('néé',     'BBB',  'übèr',  'ω',   1007::INT, -2.5::DOUBLE, 1000000017::BIGINT, -27::INT, -4.5::DOUBLE, 500::BIGINT, 1700086400000000000::BIGINT),
        |  ('doc-2',   'C',    'ζ',     'xyz', 995::INT,  -4.0::DOUBLE, 1000000068::BIGINT, -14::INT, -2.0::DOUBLE, 500::BIGINT, 1700172800000000000::BIGINT),
        |  ('αβγ',     'DDDD', 'north', 't',   1020::INT, -4.5::DOUBLE, 1000000153::BIGINT, -1::INT,  0.5::DOUBLE, 500::BIGINT, (-9223372036854775807 - 1)::BIGINT),
        |  ('doc-4',   'E',    'süd',   'ββ',  1020::INT, -4.0::DOUBLE, 1000000272::BIGINT, 12::INT,  3.0::DOUBLE, 511::BIGINT, 1700345600000000000::BIGINT),
        |  ('xxxxxxx', 'FF',   'ωμέγα', 'qq',  980::INT,  -2.5::DOUBLE, 1000000425::BIGINT, 25::INT,  5.5::DOUBLE, 511::BIGINT, 1700432000000000000::BIGINT),
        |  ('doc-6',   'GGG',  'east',  'r',   1001::INT, 0.0::DOUBLE,  1000000612::BIGINT, 38::INT,  8.0::DOUBLE, 511::BIGINT, 1700518400000000000::BIGINT),
        |  ('doc-7',   'H',    'wést',  'sss', 1002::INT, 3.5::DOUBLE,  1000000833::BIGINT, 51::INT,  10.5::DOUBLE, 511::BIGINT, 1700604800000000000::BIGINT),
        |  ('',        'II',   'ñ',     'tt',  999::INT,  8.0::DOUBLE,  1000001088::BIGINT, 64::INT,  13.0::DOUBLE, 522::BIGINT, 1700691200000000000::BIGINT),
        |  ('',        'JJJ',  'δέλτα', 'u',   1050::INT, 13.5::DOUBLE, 1000001377::BIGINT, 77::INT,  15.5::DOUBLE, 522::BIGINT, 1700777600000000000::BIGINT),
        |  ('',        'K',    'x',     'vvv', 1049::INT, 20.0::DOUBLE, 1000001700::BIGINT, 90::INT,  18.0::DOUBLE, 522::BIGINT, 1700864000000000000::BIGINT)
        |) t(label, code, uname, tag, dv, dd, ds, bzv, xzv, lzv, ts)
        |ORDER BY ds""".stripMargin) { (s, dir) =>
      s.read.format("zarr").load(fixturePath("zarr_v2_typed"))
        .select(col("label"), col("code"), col("uname"), col("tag"),
          col("dv"), col("dd"), col("ds"), col("bzv"), col("xzv"), col("lzv"),
          col("ts"))
        .orderBy("ds")
    }) :+ q119 :+ q120 :+ q124 :+ q125 :+ q127 :+ q128 :+ q129 :+ q131 :+ q132 :+ q133 :+ q134 :+ q135 :+ q136 :+ q137 :+ q138 :+ q139 :+ q140 :+ q141 :+ q142

  /** q124: the CANONICAL xarray climate layout through the oracle gate —
    * a 3-D time×lat×lon cube (edge chunks on every dimension) whose
    * 1-D coordinates broadcast across the grid and whose time axis is
    * `<M8[ns]` datetime64 surfaced as raw epoch-ns BIGINT. The pushed
    * time-range predicate exercises the datetime column in the
    * chunk-skip path; the oracle states the closed-form cube
    * (temp[t][i][j] = 1000t + 10i + j). Fixed 70 rows at every SF
    * (format certification, like q115/q117). */
  private lazy val q124 = QueryDef.sql(
    "q124_zarr_climate",
    """SELECT (1700000000000000000 + t * 86400000000000)::BIGINT AS time,
      |  (38.0 + 0.5 * i)::DOUBLE AS lat,
      |  (-117.0 + 0.25 * j)::DOUBLE AS lon,
      |  (1000.0 * t + 10.0 * i + j)::DOUBLE AS temp
      |FROM range(0, 4) a(t), range(0, 5) b(i), range(0, 7) c(j)
      |WHERE t >= 2
      |ORDER BY temp""".stripMargin) { (s, dir) =>
    val t0 = 1700000000000000000L
    val day = 86400L * 1000000000L
    s.read.format("zarr").load(fixturePath("zarr_v2_climate"))
      .filter(col("time") >= t0 + 2 * day)
      .select(col("time"), col("lat"), col("lon"), col("temp"))
      .orderBy("temp")
  }

  /** q119: BINARY payloads in the array store — the multimodal-blob
    * shape (image/audio bytes co-located with their features) through
    * the v2 `|O`+vlen-bytes object codec, NEW in round 10 and beyond
    * the reference's 12-type surface. The fixture's payloads are
    * closed-form (`payload(i) = bytes((7i+j) mod 256, j < i mod 5 + 1)`;
    * chunk 1 absent → empty payload) and the oracle states their
    * lengths and md5 digests as literals — a wrong byte anywhere in the
    * vlen-bytes framing, the zlib chain, or the fill path breaks the
    * hash. Fixed 11 rows at every SF (format certification, like
    * q115/q117). */
  // lazy: declared after `defs` in the object body, which references it
  private lazy val q119 = QueryDef.sql(
    "q119_zarr_v2_binary",
    """SELECT * FROM (VALUES
      |  (1000000000::BIGINT, 1::INT, '93b885adfe0da089cdf634904fd59f71'),
      |  (1000000017::BIGINT, 2::INT, '31540cf0b21cd8513d3dbc7192d8cad1'),
      |  (1000000068::BIGINT, 3::INT, 'a44a5dcba6073a51073e491e36fe8542'),
      |  (1000000153::BIGINT, 4::INT, '8ceba1d1015c95c8e3c14a9635edb54e'),
      |  (1000000272::BIGINT, 0::INT, 'd41d8cd98f00b204e9800998ecf8427e'),
      |  (1000000425::BIGINT, 0::INT, 'd41d8cd98f00b204e9800998ecf8427e'),
      |  (1000000612::BIGINT, 0::INT, 'd41d8cd98f00b204e9800998ecf8427e'),
      |  (1000000833::BIGINT, 0::INT, 'd41d8cd98f00b204e9800998ecf8427e'),
      |  (1000001088::BIGINT, 4::INT, 'bf9d4d1cd1bcddc532f1d2c993cd920c'),
      |  (1000001377::BIGINT, 5::INT, '06c87027492f3b1cd98b8e730858a727'),
      |  (1000001700::BIGINT, 1::INT, '800618943025315f869e4e1f09471012')
      |) t(ds, blob_len, blob_md5)
      |ORDER BY ds""".stripMargin) { (s, dir) =>
    s.read.format("zarr").load(fixturePath("zarr_v2_typed"))
      .select(col("ds"), length(col("blob")).as("blob_len"),
        md5(col("blob")).as("blob_md5"))
      .orderBy("ds")
  }

  /** q120: the multimodal pipeline over ARRAY-NATIVE storage, end to
    * end — real PNGs live as vlen-bytes blobs in the v2 store (encoded
    * by the independent stdlib generator: hand-built IHDR/IDAT/IEND
    * with CRC32s, NOT ImageIO), the DSv2 scan surfaces them as a Spark
    * binary column, and the REAL JDK ImageIO decode runs on executors
    * (q112's path). The oracle states the closed-form decoded truth —
    * dimensions and integer-exact mean luminance of each solid-color
    * image — so a defect anywhere in the chain (vlen framing, PNG
    * parsing, luma arithmetic) breaks the hash. Scale shape: decode is
    * mapPartitions on the scanned partitions; only the narrow feature
    * rows leave the executor. */
  private lazy val q120 = QueryDef.sql(
    "q120_zarr_multimodal",
    """SELECT * FROM (VALUES
      |  (1000000000::BIGINT, 2::INT, 2::INT, 40000::BIGINT),
      |  (1000000017::BIGINT, 3::INT, 3::INT, 470000::BIGINT),
      |  (1000000068::BIGINT, 4::INT, 2::INT, 900000::BIGINT),
      |  (1000000153::BIGINT, 2::INT, 3::INT, 1320000::BIGINT),
      |  (1000000272::BIGINT, 3::INT, 2::INT, 1750000::BIGINT),
      |  (1000000425::BIGINT, 4::INT, 3::INT, 680000::BIGINT),
      |  (1000000612::BIGINT, 2::INT, 2::INT, 1100000::BIGINT),
      |  (1000000833::BIGINT, 3::INT, 3::INT, 1530000::BIGINT),
      |  (1000001088::BIGINT, 4::INT, 2::INT, 1960000::BIGINT),
      |  (1000001377::BIGINT, 2::INT, 3::INT, 120000::BIGINT),
      |  (1000001700::BIGINT, 3::INT, 2::INT, 540000::BIGINT)
      |) t(ds, width, height, luma_e4)
      |ORDER BY ds""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.operators.Multimodal
    s.read.format("zarr").load(fixturePath("zarr_v2_typed"))
      .select(col("ds"), col("png"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (ds, payload) =>
        val f = Multimodal.decodeImage(Multimodal.MediaBlob(ds, "image", payload))
          .getOrElse(throw new IllegalStateException(
            s"q120: PNG at ds=$ds failed to decode"))
        val luma = Multimodal.meanLumaE4(payload).getOrElse(
          throw new IllegalStateException(s"q120: luma at ds=$ds failed"))
        (ds, f.width, f.height, luma)
      })
      .toDF("ds", "width", "height", "luma_e4")
      .orderBy("ds")
  }

  /** q125: the N-D CUBE WRITE under the oracle gate — the q99 pattern
    * for the round-12 cube path. A dense source×bucket grid of document
    * statistics is built from the sf parquet (densified with zero
    * cells), written via `option("dims", "source,bucket")` — string +
    * int coordinate axes, TWO 2-D data arrays, edge chunks on both
    * dimensions — and read back through the DSv2 scan. The query
    * returns EVERY cell, so a misplaced chunk, a mis-ranked coordinate,
    * or a wrong edge-truncation breaks the row hash against the DuckDB
    * closed form computed from the original parquet.
    *
    * Scale shape: the cube build is the writer's own pipeline (axis
    * distincts, broadcast grid-index joins, ONE clustered shuffle,
    * direct final-key chunk writes); the store is memoized per SF like
    * q99's. The read-back is the chunked scan + a cell-count-bounded
    * sort. */
  private lazy val q125 = QueryDef.sql(
    "q125_zarr_cube_write",
    """WITH cells AS (
      |  SELECT source, (doc_id % 8)::BIGINT AS bucket,
      |    count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.source, b.range::BIGINT AS bucket
      |  FROM (SELECT DISTINCT source FROM documents) s, range(8) b)
      |SELECT g.source, g.bucket,
      |  coalesce(c.n_docs, 0)::BIGINT AS n_docs,
      |  coalesce(c.sum_chars, 0)::BIGINT AS sum_chars
      |FROM grid g LEFT JOIN cells c ON g.source = c.source AND g.bucket = c.bucket
      |ORDER BY g.source, g.bucket""".stripMargin) { (s, dir) =>
    val store = ensureCubeStore(s, dir)
    s.read.format("zarr").load(store)
      .select(col("source"), col("bucket"), col("n_docs"), col("sum_chars"))
      .orderBy("source", "bucket")
  }

  /** q127: the documented datetime64 → TIMESTAMP ergonomics helper under
    * the oracle gate. The engine surfaces v2 `datetime64` as raw int64
    * (lossless, NaT preserved — SURVEY §7.11.11); `zarr_timestamp` is the
    * EXPLICIT opt-in conversion: ns truncates (floorDiv) to whole
    * microseconds, NaT (int64 min) becomes SQL NULL, multiply units are
    * overflow-checked. The fixture's `ts` column is `<M8[ns]` with one
    * NaT; `ds` doubles as an epoch-seconds column to exercise a multiply
    * unit. The oracle states the converted instants as DuckDB
    * make_timestamp literals — TIMESTAMP_NTZ and DuckDB TIMESTAMP agree
    * byte-for-byte through the parquet handoff. */
  private lazy val q127 = QueryDef.sql(
    "q127_zarr_datetime",
    """SELECT * FROM (VALUES
      |  (1000000000::BIGINT, make_timestamp(1700000000000000), make_timestamp(1000000000000000)),
      |  (1000000017::BIGINT, make_timestamp(1700086400000000), make_timestamp(1000000017000000)),
      |  (1000000068::BIGINT, make_timestamp(1700172800000000), make_timestamp(1000000068000000)),
      |  (1000000153::BIGINT, NULL::TIMESTAMP,                  make_timestamp(1000000153000000)),
      |  (1000000272::BIGINT, make_timestamp(1700345600000000), make_timestamp(1000000272000000)),
      |  (1000000425::BIGINT, make_timestamp(1700432000000000), make_timestamp(1000000425000000)),
      |  (1000000612::BIGINT, make_timestamp(1700518400000000), make_timestamp(1000000612000000)),
      |  (1000000833::BIGINT, make_timestamp(1700604800000000), make_timestamp(1000000833000000)),
      |  (1000001088::BIGINT, make_timestamp(1700691200000000), make_timestamp(1000001088000000)),
      |  (1000001377::BIGINT, make_timestamp(1700777600000000), make_timestamp(1000001377000000)),
      |  (1000001700::BIGINT, make_timestamp(1700864000000000), make_timestamp(1000001700000000))
      |) t(ds, ts_utc, ds_ts)
      |ORDER BY ds""".stripMargin) { (s, dir) =>
    graft.functions.VectorFunctions.register(s)
    s.read.format("zarr").load(fixturePath("zarr_v2_typed"))
      .selectExpr("ds",
        "zarr_timestamp(ts, 'ns') AS ts_utc",
        "zarr_timestamp(ds, 's') AS ds_ts")
      .orderBy("ds")
  }

  /** q128: the N-D CUBE APPEND under the oracle gate — the q125 pattern
    * for the round-13 append path. A dense day×source grid of document
    * statistics is built from the sf parquet, the FIRST 8 days are
    * written as a fresh cube (`dims = "day,source"`, day chunk 4 — the
    * base extent is chunk-aligned) and the LAST 4 days are APPENDED via
    * `option("append_dim", "day")` — the xarray daily-ingest shape. The
    * query reads EVERY cell of the grown store back through the DSv2
    * scan, so a misplaced slab chunk, a mis-extended day axis, a stale
    * shape, or a broken trailing-axis re-rank breaks the row hash
    * against the DuckDB closed form computed from the original parquet
    * (which never saw the split).
    *
    * Scale shape: the append is ONE clustered shuffle of the slab's
    * rows + executor-direct final-key chunk writes; the commit (axis
    * extension, root rewrite) is O(slab metadata) — existing stats
    * segments are never rewritten (ordinals are functions of trailing
    * grid extents; the reader accepts the smaller leading extent), so
    * a daily ingest pays for the day, not the store. Memoized per SF
    * like q125's store. */
  private lazy val q128 = QueryDef.sql(
    "q128_zarr_cube_append",
    """WITH cells AS (
      |  SELECT (doc_id % 12)::BIGINT AS day, source,
      |    count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.range::BIGINT AS day, s.source
      |  FROM range(12) d, (SELECT DISTINCT source FROM documents) s)
      |SELECT g.day, g.source,
      |  coalesce(c.n_docs, 0)::BIGINT AS n_docs,
      |  coalesce(c.sum_chars, 0)::BIGINT AS sum_chars
      |FROM grid g LEFT JOIN cells c ON g.day = c.day AND g.source = c.source
      |ORDER BY g.day, g.source""".stripMargin) { (s, dir) =>
    val store = ensureAppendStore(s, dir)
    s.read.format("zarr").load(store)
      .select(col("day"), col("source"), col("n_docs"), col("sum_chars"))
      .orderBy("day", "source")
  }

  /** q129: the N-D cube REGION overwrite under the oracle gate. The
    * full day×source grid is written as one cube, then days 4-7 are
    * REPROCESSED — replaced in place via `option("region_dim", "day")`
    * with transformed values (`n_docs*2+5`, `sum_chars+7`) — and every
    * cell read back. The DuckDB closed form applies the same transform
    * as a CASE over the untouched parquet, so a swap that leaks outside
    * the region, misses a cell inside it, or moves any coordinate
    * breaks the row hash.
    *
    * Scale shape: the region write is ONE clustered shuffle of the
    * region's rows + in-place final-key chunk writes; nothing else in
    * the store (chunks, axes, metadata, root) is touched — reprocessing
    * one day of a 100 TB store costs one day's data. Memoized per SF. */
  private lazy val q129 = QueryDef.sql(
    "q129_zarr_cube_region",
    """WITH cells AS (
      |  SELECT (doc_id % 12)::BIGINT AS day, source,
      |    count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.range::BIGINT AS day, s.source
      |  FROM range(12) d, (SELECT DISTINCT source FROM documents) s),
      |dense AS (
      |  SELECT g.day, g.source,
      |    coalesce(c.n_docs, 0)::BIGINT AS n_docs,
      |    coalesce(c.sum_chars, 0)::BIGINT AS sum_chars
      |  FROM grid g LEFT JOIN cells c ON g.day = c.day AND g.source = c.source)
      |SELECT day, source,
      |  (CASE WHEN day BETWEEN 4 AND 7 THEN n_docs * 2 + 5 ELSE n_docs END)::BIGINT AS n_docs,
      |  (CASE WHEN day BETWEEN 4 AND 7 THEN sum_chars + 7 ELSE sum_chars END)::BIGINT AS sum_chars
      |FROM dense
      |ORDER BY day, source""".stripMargin) { (s, dir) =>
    val store = ensureRegionStore(s, dir)
    s.read.format("zarr").load(store)
      .select(col("day"), col("source"), col("n_docs"), col("sum_chars"))
      .orderBy("day", "source")
  }

  /** Build the q129 store: the full 12-day cube, then a REAL
    * `region_dim` overwrite of days 4-7 with transformed values
    * (region [4,8) is chunk-aligned at day chunk 4). */
  private def ensureRegionStore(s: SparkSession, dir: String): String =
    ensureDayGridStore(s, dir, "cuberegion", "/tmp/graft_zarr_cube_region") {
      (dense, path) =>
        dense.write.format("zarr").mode("append")
          .option("dims", "day,source")
          .option("chunk_shape", "4,6")
          .save(path)
        dense.filter(col("day").between(4, 7))
          .select(col("day"), col("source"),
            (col("n_docs") * 2 + 5).as("n_docs"),
            (col("sum_chars") + 7).as("sum_chars"))
          .write.format("zarr").mode("overwrite")
          .option("region_dim", "day")
          .save(path)
    }

  /** The dense 12-day × source grid of document stats — the ONE
    * cube-shaped frame the q128/q129/q131 stores all write (densified
    * over the full cross product, zero cells where a (day, source) has
    * no documents). Shared so the three oracles cannot silently drift
    * onto different grids. */
  private def denseDayCells(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val cells = docs
      .groupBy(pmod(col("doc_id"), lit(12L)).as("day"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val grid = s.range(12).select(col("id").as("day"))
      .crossJoin(docs.select(col("source")).distinct())
    grid.join(cells, Seq("day", "source"), "left")
      .select(col("day"), col("source"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("sum_chars"), lit(0L)).as("sum_chars"))
  }

  /** Memoize-and-rename a day-cells store once per (key, dir, source
    * size/mtime): `write` builds it at a scratch path, an atomic rename
    * publishes it; bench/verify re-runs reuse it. Same discipline as
    * [[ensureCubeStore]]. */
  private def ensureDayGridStore(
      s: SparkSession, dir: String, keyTag: String, root: String)(
      write: (DataFrame, String) => Unit): String =
    ensureMemoizedStore(dir, keyTag, root, "day_cells") { path =>
      write(denseDayCells(s, dir), path)
    }

  /** Build the q128 store: fresh cube of days 0-7, then a REAL
    * `append_dim` append of days 8-11 (both slabs share the source axis
    * by construction — trailing dims must align). */
  private def ensureAppendStore(s: SparkSession, dir: String): String =
    ensureDayGridStore(s, dir, "cubeappend", "/tmp/graft_zarr_cube_append") {
      (dense, path) =>
        dense.filter(col("day") < 8).write.format("zarr").mode("append")
          .option("dims", "day,source")
          .option("chunk_shape", "4,6")
          .save(path)
        dense.filter(col("day") >= 8).write.format("zarr").mode("append")
          .option("append_dim", "day")
          .save(path)
    }

  /** q131: the SHARDED N-D cube write under the oracle gate — the
    * q129 day×source grid written with `shard_shape` (ZEP 2 sharding:
    * the stored object packs whole inner chunks). Shards are 8×8 over
    * 2×4 inner chunks, so BOTH dims end in edge shards (day 12 % 8 and
    * the source axis % 8) with all-padding inner chunks to omit. Every
    * cell reads back through the shard decode path and hash-matches the
    * same DuckDB closed form as a plain write would — a mis-packed
    * inner chunk, a wrong shard index, or a mis-skipped padding chunk
    * breaks the hash.
    *
    * Scale shape: identical pipeline to q125 (ONE clustered shuffle,
    * final-key writes) but the OBJECT COUNT follows shards, not chunks —
    * the 100 TB listing/request-cost lever. Memoized per SF. */
  private lazy val q131 = QueryDef.sql(
    "q131_zarr_cube_sharded",
    """WITH cells AS (
      |  SELECT (doc_id % 12)::BIGINT AS day, source,
      |    count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.range::BIGINT AS day, s.source
      |  FROM range(12) d, (SELECT DISTINCT source FROM documents) s)
      |SELECT g.day, g.source,
      |  coalesce(c.n_docs, 0)::BIGINT AS n_docs,
      |  coalesce(c.sum_chars, 0)::BIGINT AS sum_chars
      |FROM grid g LEFT JOIN cells c ON g.day = c.day AND g.source = c.source
      |ORDER BY g.day, g.source""".stripMargin) { (s, dir) =>
    val store = ensureShardedCubeStore(s, dir)
    s.read.format("zarr").load(store)
      .select(col("day"), col("source"), col("n_docs"), col("sum_chars"))
      .orderBy("day", "source")
  }

  /** q136: RANGED shard reads + inner-chunk masking under the oracle
    * gate. The q131 sharded store (written by the cube kernel, so it
    * carries write-time `_stats/i<ord>.json` docs) is read with
    * `graft.zarr.ranged.reads=always` and a mixed predicate: `day >= 6`
    * masks inner chunks from the COORDINATE axis (the first shard keeps
    * 1 of its 4 day-bands), `sum_chars > 0` consults the per-inner
    * DATA bounds, and the scan emits only kept-region rows — all three
    * round-16 read levers (ranged fetch, inner masks, kept-row
    * emission) must reproduce the DuckDB closed form exactly. The
    * policy rides the SCAN-scoped `ranged_reads` option (r20) — no
    * shared-conf mutation for a concurrent query runner to race. */
  private lazy val q136 = QueryDef.sql(
    "q136_zarr_ranged_read",
    """WITH cells AS (
      |  SELECT (doc_id % 12)::BIGINT AS day, source,
      |    count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.range::BIGINT AS day, s.source
      |  FROM range(12) d, (SELECT DISTINCT source FROM documents) s),
      |dense AS (
      |  SELECT g.day, g.source,
      |    coalesce(c.n_docs, 0)::BIGINT AS n_docs,
      |    coalesce(c.sum_chars, 0)::BIGINT AS sum_chars
      |  FROM grid g LEFT JOIN cells c ON g.day = c.day AND g.source = c.source)
      |SELECT day, source, n_docs, sum_chars FROM dense
      |WHERE day >= 6 AND sum_chars > 0
      |ORDER BY day, source""".stripMargin) { (s, dir) =>
    val store = ensureShardedCubeStore(s, dir)
    s.read.format("zarr").option("ranged_reads", "always").load(store)
      .filter(col("day") >= 6 && col("sum_chars") > 0)
      .select(col("day"), col("source"), col("n_docs"), col("sum_chars"))
      .orderBy("day", "source")
  }

  /** q137: APPEND-SURVIVING inner-chunk stats under the oracle gate.
    * A sharded cube is written with a RAGGED day base (7 of 12 days;
    * day-shard extent 4, so the base's edge chunk-row is partial) and
    * then grown to 12 via `append_dim` — the daily-ingest shape. The
    * append RETIRES and re-emits the edge row's `_stats/i<ord>.json`
    * docs (their shards were rewritten) while the untouched shards'
    * docs survive by the smaller-leading-extent acceptance. The read
    * runs with `ranged.reads=always` and a mixed predicate that spans
    * BOTH doc populations: `day <= 4` touches shard-row 0 (pre-append
    * docs, survived) and shard-row 1 (post-swap re-emitted docs), and
    * `sum_chars > 0` consults their per-inner DATA bounds — so a stale
    * surviving doc, a mis-retired edge doc, or a wrong promotion
    * breaks the row hash against the closed form computed from the
    * parquet that never saw the split. Scan-scoped `ranged_reads`
    * option like q136. */
  private lazy val q137 = QueryDef.sql(
    "q137_zarr_append_masking",
    """WITH cells AS (
      |  SELECT (doc_id % 12)::BIGINT AS day, source,
      |    count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.range::BIGINT AS day, s.source
      |  FROM range(12) d, (SELECT DISTINCT source FROM documents) s),
      |dense AS (
      |  SELECT g.day, g.source,
      |    coalesce(c.n_docs, 0)::BIGINT AS n_docs,
      |    coalesce(c.sum_chars, 0)::BIGINT AS sum_chars
      |  FROM grid g LEFT JOIN cells c ON g.day = c.day AND g.source = c.source)
      |SELECT day, source, n_docs, sum_chars FROM dense
      |WHERE day <= 4 AND sum_chars > 0
      |ORDER BY day, source""".stripMargin) { (s, dir) =>
    val store = ensureAppendShardStore(s, dir)
    s.read.format("zarr").option("ranged_reads", "always").load(store)
      .filter(col("day") <= 4 && col("sum_chars") > 0)
      .select(col("day"), col("source"), col("n_docs"), col("sum_chars"))
      .orderBy("day", "source")
  }

  /** q138: the FOREIGN-REWRITE-then-REFRESH lifecycle under the oracle
    * gate. An UNSHARDED cube (no per-object freshness token exists for
    * its chunks) is written with its stats sidecar, then a foreign tool
    * rewrites the `sum_chars` array IN PLACE — same shape, chunks and
    * dims, so no metadata sweep can detect it — boosting days 4..7 by
    * 10^9. `ZarrMaintenance.analyzeRefresh` re-analyzes exactly that
    * window (the caller that ran the rewrite knows it). The read then
    * pushes `sum_chars >= 10^9`, a predicate the STALE segment bounds
    * would refute on every chunk: a refresh that failed to retire the
    * window's segments, re-analyze it, or record the boosted bounds
    * emits ZERO rows against the oracle's 80 — the silent-row-drop
    * failure class this surface exists to prevent, under the hash. */
  private lazy val q138 = QueryDef.sql(
    "q138_zarr_refresh_bounds",
    """WITH cells AS (
      |  SELECT (doc_id % 12)::BIGINT AS day, source,
      |    sum(n_chars)::BIGINT AS sum_chars
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.range::BIGINT AS day, s.source
      |  FROM range(12) d, (SELECT DISTINCT source FROM documents) s),
      |dense AS (
      |  SELECT g.day, g.source,
      |    coalesce(c.sum_chars, 0)::BIGINT
      |      + CASE WHEN g.day BETWEEN 4 AND 7
      |             THEN 1000000000 ELSE 0 END AS sum_chars
      |  FROM grid g LEFT JOIN cells c ON g.day = c.day AND g.source = c.source)
      |SELECT day, source, sum_chars FROM dense
      |WHERE sum_chars >= 1000000000
      |ORDER BY day, source""".stripMargin) { (s, dir) =>
    val store = ensureRefreshStore(s, dir)
    s.read.format("zarr").load(store)
      .filter(col("sum_chars") >= 1000000000L)
      .select(col("day"), col("source"), col("sum_chars"))
      .orderBy("day", "source")
  }

  /** q139: SIDECAR COMPACTION under the oracle gate. The ingest shape
    * (base write + append → multiple task-sized stats segments) is
    * compacted with `ZarrMaintenance.compactStats` — merged documents,
    * sources deleted, zero chunk reads — and the read then pushes a
    * predicate whose chunk-skip serves from the MERGED bounds. A merge
    * that corrupts a bound skips chunks whose rows the oracle expects
    * (the silent-row-drop class, under the hash); StatsCompactionSpec
    * pins the byte-for-value bound survival and the crash window. The
    * micro-batch ingest this op exists for no longer needs an external
    * scheduler: `ZarrCubeSink.appendBatch(compactEvery = Some(n))`
    * runs the same compaction post-commit every n-th batch
    * (ZarrCubeSinkSpec pins the bounded sidecar and replay
    * byte-equality; q140 gates the composed lifecycle). */
  private lazy val q139 = QueryDef.sql(
    "q139_zarr_stats_compaction",
    """WITH cells AS (
      |  SELECT (doc_id % 12)::BIGINT AS day, source,
      |    count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.range::BIGINT AS day, s.source
      |  FROM range(12) d, (SELECT DISTINCT source FROM documents) s),
      |dense AS (
      |  SELECT g.day, g.source,
      |    coalesce(c.n_docs, 0)::BIGINT AS n_docs,
      |    coalesce(c.sum_chars, 0)::BIGINT AS sum_chars
      |  FROM grid g LEFT JOIN cells c ON g.day = c.day AND g.source = c.source)
      |SELECT day, source, n_docs, sum_chars FROM dense
      |WHERE day >= 8 AND sum_chars > 0
      |ORDER BY day, source""".stripMargin) { (s, dir) =>
    val store = ensureCompactedStatsStore(s, dir)
    s.read.format("zarr").load(store)
      .filter(col("day") >= 8 && col("sum_chars") > 0)
      .select(col("day"), col("source"), col("n_docs"), col("sum_chars"))
      .orderBy("day", "source")
  }

  /** Build the q139 store: base cube write (days 0-7) + a real append
    * (8-11), both emitting task-sized stats segments, then
    * `compactStats` merges them (asserted: the segment count strictly
    * drops and coverage math still serves the metadata path). */
  private def ensureCompactedStatsStore(s: SparkSession, dir: String): String =
    ensureDayGridStore(s, dir, "cubestatscompact", "/tmp/graft_zarr_statscompact") {
      (dense, path) =>
        dense.filter(col("day") < 8).write.format("zarr").mode("append")
          .option("dims", "day,source")
          .option("chunk_shape", "2,4")
          .save(path)
        dense.filter(col("day") >= 8).write.format("zarr").mode("append")
          .option("append_dim", "day").save(path)
        val (before, after) =
          graft.zarr.ZarrMaintenance.compactStats(s, path)
        require(after < before,
          s"q139 store build: compaction must merge segments ($before -> $after)")
    }

  /** Build the q138 store: plain cube write (stats sidecar on), then a
    * FOREIGN in-place rewrite of `sum_chars` via the fixture writer —
    * identical shape/chunk/dims (undetectable by the sidecar sweep, as
    * an out-of-engine tool would be), days 4..7 boosted by 10^9 —
    * followed by `analyzeRefresh` of exactly the rewritten chunk rows.
    * Chunk 2x4 over the 12x20 grid → 6x5 chunk grid; days 4..7 are
    * chunk-rows 2..3 = ordinals [10, 20). Source axis order is READ
    * BACK from the committed store, so the fixture matches the cube
    * writer's coordinate rebuild whatever collation produced it. */
  private def ensureRefreshStore(s: SparkSession, dir: String): String =
    ensureDayGridStore(s, dir, "cuberefresh", "/tmp/graft_zarr_cube_refresh") {
      (dense, path) =>
        dense.write.format("zarr").mode("append")
          .option("dims", "day,source")
          .option("chunk_shape", "2,4")
          .save(path)
        val cells = dense.select("day", "source", "sum_chars").collect()
          .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
        val zs = graft.zarr.ZarrStore(path)
        val srcOrder: Seq[String] = graft.sources.ZarrCubeWrite
          .readAscendingAxis(zs, zs.readMeta("source"), path,
            "q138 fixture reads the committed source axis")
          .map(String.valueOf).toSeq
        val boosted: IndexedSeq[Any] =
          (for (d <- 0L until 12L; src <- srcOrder) yield
            cells((d, src)) + (if (d >= 4 && d <= 7) 1000000000L else 0L))
            .toIndexedSeq
        graft.zarr.ZarrWriter.writeArray(
          graft.zarr.ZarrStore(path), "sum_chars", graft.zarr.ZarrType.Int64,
          Seq(12L, 20L), Seq(2, 4), boosted, Some(Seq("day", "source")),
          graft.zarr.ZarrWriter.CodecChain.bloscLz4, fillJson = "0")
        graft.zarr.ZarrMaintenance.analyzeRefresh(s, path, Seq((10L, 20L))): Unit
    }

  /** q140: the OPERATOR'S DAY under ONE oracle gate — the maintenance
    * lifecycle the individual gates (q133 sink, q134 vacuum, q137
    * inner docs, q138 analyze, q139 compaction) certify pairwise,
    * COMPOSED on a single store: (1) sharded micro-batch INGEST
    * through the cube sink with the in-lifecycle compaction cadence
    * (ragged 3-day slabs over day-chunk 2 — edge folds, shard edge
    * swaps, and compaction BETWEEN appends, which exercises the
    * straddling-segment trim), (2) crash junk seeded and VACUUMED,
    * (3) residual fragmentation COMPACTED to the floor, (4) an inner
    * doc deleted and healed by INCREMENTAL ANALYZE, then (5) a RANGED
    * predicate read whose chunk skips and inner masks serve from the
    * merged+trimmed+healed sidecar — hashed against the closed form
    * from the parquet that saw none of it. Each transition is
    * require-gated on `describeStats`/doc listings so the fixture
    * fails loudly AT the broken step, not as an opaque hash diff. */
  private lazy val q140 = QueryDef.sql(
    "q140_zarr_lifecycle",
    """WITH cells AS (
      |  SELECT (doc_id % 12)::BIGINT AS day, source,
      |    count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.range::BIGINT AS day, s.source
      |  FROM range(12) d, (SELECT DISTINCT source FROM documents) s),
      |dense AS (
      |  SELECT g.day, g.source,
      |    coalesce(c.n_docs, 0)::BIGINT AS n_docs,
      |    coalesce(c.sum_chars, 0)::BIGINT AS sum_chars
      |  FROM grid g LEFT JOIN cells c ON g.day = c.day AND g.source = c.source)
      |SELECT day, source, n_docs, sum_chars FROM dense
      |WHERE day BETWEEN 3 AND 9 AND sum_chars > 0
      |ORDER BY day, source""".stripMargin) { (s, dir) =>
    val store = ensureLifecycleStore(s, dir)
    s.read.format("zarr").option("ranged_reads", "always").load(store)
      .filter(col("day").between(3, 9) && col("sum_chars") > 0)
      .select(col("day"), col("source"), col("n_docs"), col("sum_chars"))
      .orderBy("day", "source")
  }

  /** Build the q140 store — see [[q140]]'s step list. The junk-seed +
    * vacuum happens on the memoized store's BUILD directory, so the
    * committed fixture is the clean post-maintenance state. */
  private def ensureLifecycleStore(s: SparkSession, dir: String): String =
    ensureDayGridStore(s, dir, "cubelifecycle|c2x4|s4x8", "/tmp/graft_zarr_lifecycle") {
      (dense, path) =>
        // (1) ingest: four ragged 3-day slabs; the cadence compacts at
        // batches 1 and 3, so batch 3's edge fold retires coverage that
        // a PRIOR compaction may have merged
        def batch(lo: Int, hi: Int, id: Long): Unit =
          graft.streaming.ZarrCubeSink.appendBatch(
            dense.filter(col("day") >= lo && col("day") < hi), id, path,
            Seq("day", "source"), chunkShape = Some(Seq(2, 4)),
            shardShape = Some(Seq(4, 8)), compactEvery = Some(2))
        batch(0, 3, 0L); batch(3, 6, 1L); batch(6, 9, 2L); batch(9, 12, 3L)
        def stat(): org.apache.spark.sql.Row =
          graft.zarr.ZarrInfo.describeStats(s, path).collect().head
        val ingested = stat()
        require(ingested.getDouble(7) == 1.0,
          s"q140 ingest: sidecar coverage incomplete ($ingested)")
        // (2) the crash-garbage set, then vacuum: raw == live afterwards
        Files.createDirectories(Paths.get(path, "n_docs", "c", "9"))
        Files.write(Paths.get(path, "n_docs", "c", "9", "0"), Array[Byte](1, 2, 3))
        Files.createDirectories(Paths.get(path, "n_docs", "c.part-life-0"))
        Files.write(Paths.get(path, "n_docs", "c.part-life-0", "0"), Array[Byte](4))
        Files.write(Paths.get(path, "_stats", "s999_4.json"), "{}".getBytes)
        val junked = stat()
        require(junked.getLong(2) > junked.getLong(3),
          s"q140 junk: phantom segment must count raw-only ($junked)")
        graft.zarr.ZarrMaintenance.vacuum(s, path).collect(): Unit
        val vacuumed = stat()
        require(vacuumed.getLong(2) == vacuumed.getLong(3),
          s"q140 vacuum: junk must be reclaimed ($vacuumed)")
        // (3) compact any residue down to the floor the cadence already
        // targets (idempotent when the cadence got there first)
        graft.zarr.ZarrMaintenance.compactStats(s, path): Unit
        val compacted = stat()
        require(compacted.getLong(3) == compacted.getLong(4),
          s"q140 compaction: live segments must reach the floor ($compacted)")
        // (4) lose an inner doc (a foreign deletion / partial sync);
        // incremental analyze must re-cover and re-emit it
        val zs = graft.zarr.ZarrStore(path)
        val ords = zs.sidecar().innerOrds
        require(ords.nonEmpty, "q140: sharded store must carry inner docs")
        zs.deleteKey(graft.zarr.ChunkStats.innerKey(ords.head)): Unit
        require(graft.zarr.ZarrMaintenance.analyze(s, path, incremental = true) >= 1,
          "q140 analyze: the doc hole must trigger re-analysis")
        require(zs.sidecar().innerOrds.contains(ords.head),
          "q140 analyze: the deleted inner doc must be re-emitted")
        val healed = stat()
        require(healed.getDouble(7) == 1.0,
          s"q140 analyze: coverage must be whole again ($healed)")
    }

  /** q141: SHARDED BINARY (vlen-bytes) arrays under the oracle gate —
    * the round-20 layout for multimodal blob payloads at 100 TB. Each
    * document's blob is a deterministic UTF-8 slice of its text
    * (`substr(text, 1, doc_id % 97)`, computable identically in DuckDB),
    * written through the DSv2 tabular writer with `inner_chunk_size` so
    * the binary column lands as variable-length inner chunks behind a
    * ZEP 2 shard index (offset-addressed, not width-multiplied —
    * `Sharding.decode`/`encode`), alongside a sharded vlen-utf8 string
    * axis and a fixed-width int64. The read-back aggregates per source:
    * count, BYTE length sum (UTF-8, not characters), md5 extrema over
    * the blob BYTES, and the id sum — so a mis-sliced inner chunk, a
    * wrong shard-index offset, a vlen-framing defect, or a lost empty
    * payload (doc_id % 97 == 0 → zero-length blob) breaks the hash
    * against the closed form DuckDB computes from the parquet that
    * never saw the store. The store build REQUIRE-gates that the blob
    * array really is sharded — a silent fallback to unsharded chunks
    * would pass the value compare while proving nothing.
    *
    * Scale shape: one pass to write (chunk-aligned parallel append),
    * chunked scan + narrow per-source partial+final agg to read; blob
    * bytes never shuffle (md5/length reduce scan-side). */
  private lazy val q141 = QueryDef.sql(
    "q141_zarr_sharded_blobs",
    """WITH b AS (
      |  SELECT source, doc_id, substr(text, 1, (doc_id % 97)::INT) AS s
      |  FROM documents)
      |SELECT source, count(*) AS n_blobs,
      |  sum(strlen(s))::BIGINT AS blob_bytes,
      |  min(md5(s)) AS blob_md5_min,
      |  max(md5(s)) AS blob_md5_max,
      |  sum(doc_id)::BIGINT AS id_sum
      |FROM b GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val store = ensureShardedBlobStore(s, dir)
    s.read.format("zarr").load(store)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_blobs"),
        sum(length(col("blob"))).as("blob_bytes"),
        min(md5(col("blob"))).as("blob_md5_min"),
        max(md5(col("blob"))).as("blob_md5_max"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy("source")
  }

  /** Build the q141 store: documents → (doc_id, source, blob) with the
    * blob column BinaryType, written sharded (chunk 4096 / inner 512).
    * Memoized per SF like [[ensureStore]]. */
  private def ensureShardedBlobStore(s: SparkSession, dir: String): String =
    ensureMemoizedStore(dir, "blobs", "/tmp/graft_zarr_blobs", "documents") { path =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          encode(expr("substring(text, 1, cast(doc_id % 97 as int))"), "UTF-8")
            .as("blob"))
        .write.format("zarr").mode("append")
        .option("chunk_size", "4096")
        .option("inner_chunk_size", "512")
        .save(path)
      // the gate is only meaningful if the layout under test is real:
      // the blob column must be SHARDED vlen-bytes, not a fallback
      val m = graft.zarr.ZarrStore(path).readMeta("blob")
      require(m.shardingSpec.isDefined && m.dataType == graft.zarr.ZarrType.Bytes,
        s"q141 store: blob must be a sharded binary array (${m.codecs.map(_.name)})")
    }

  /** q142: the TABULAR write surface's maintenance lifecycle under ONE
    * oracle gate — q140's composition for the OTHER half of the write
    * path. Three staged DSv2 appends (doc_id thirds → manifest parts,
    * one stats segment per write task) build a SHARDED 1-D store; then
    * the operator's day runs on it: crash garbage seeded (an orphan
    * chunk past the grid, an unreferenced staging dir, a phantom stats
    * segment) → vacuum reclaims exactly that set (raw == live
    * afterwards) → sidecar compaction merges the ingest's segments to
    * the coverage floor — every transition require-gated on
    * describeStats. The surviving store then serves a FILTERED
    * aggregate whose predicate consults the compacted chunk-skip
    * bounds, and the DuckDB closed form from the parquet that never
    * saw the store must hash-match: a vacuum that eats a live chunk, a
    * compaction that mangles a merged segment's bounds (wrongly
    * skipping a chunk), or an append whose manifest lost a part all
    * break the row hash, not just a spec.
    *
    * Scale shape: appends are parallel staged commits; maintenance is
    * LIST+GET-bounded (never a chunk read); the final read is the
    * chunked scan with predicate pushdown + a narrow per-lang agg. */
  private lazy val q142 = QueryDef.sql(
    "q142_zarr_tabular_lifecycle",
    """SELECT lang, count(*) AS n_docs,
      |  sum(n_chars)::BIGINT AS sum_chars,
      |  min(md5(text)) AS md5_min,
      |  max(md5(text)) AS md5_max,
      |  sum(doc_id)::BIGINT AS id_sum
      |FROM documents WHERE n_chars >= 200
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val store = ensureTabularLifecycleStore(s, dir)
    s.read.format("zarr").load(store)
      .filter(col("n_chars") >= 200)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(md5(col("text"))).as("md5_min"),
        max(md5(col("text"))).as("md5_max"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy("lang")
  }

  /** Build the q142 store — see [[q142]]'s step list. All maintenance
    * runs on the BUILD directory, so the memoized fixture is the clean
    * post-lifecycle state. */
  private def ensureTabularLifecycleStore(s: SparkSession, dir: String): String =
    ensureMemoizedStore(dir, "tablife", "/tmp/graft_zarr_tablife",
      "documents") { path =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      // (1) ingest: three staged appends. Appends extend whole chunks
      // (the writer refuses a partial last chunk), so the first two
      // batches are chunk-ALIGNED doc_id-ranked thirds and the final
      // batch carries the remainder — the natural shape of batched
      // ingest, where only the tail is ragged. The rank window is
      // build-fixture code (one pass, store built once per SF).
      val n = docs.count()
      val chunk = 128L
      val third = math.max(chunk, n / 3 / chunk * chunk)
      val ranked = docs.withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("doc_id"))).cast("long"))
      // a tiny corpus (n <= 2*third) degenerates trailing ranges to
      // empty — drop them rather than append zero rows, and gate the
      // segment require on the batches that actually ran
      val bounds = Seq((1L, third), (third + 1, 2 * third), (2 * third + 1, n))
        .filter { case (lo, hi) => lo <= hi }
      bounds.foreach { case (lo, hi) =>
        ranked.filter(col("__rn").between(lo, hi)).drop("__rn")
          .write.format("zarr").mode("append")
          .option("chunk_size", chunk.toString)
          .option("inner_chunk_size", "32")
          .save(path)
      }
      val zs = graft.zarr.ZarrStore(path)
      require(zs.committedView().manifest.parts.nonEmpty,
        "q142 ingest: staged appends must accumulate manifest parts")
      require(zs.readMeta("text").shardingSpec.isDefined,
        "q142 ingest: the store must be sharded (inner_chunk_size)")
      def stat(): org.apache.spark.sql.Row =
        graft.zarr.ZarrInfo.describeStats(s, path).collect().head
      val ingested = stat()
      require(ingested.getDouble(7) == 1.0 && ingested.getLong(3) >= bounds.size,
        s"q142 ingest: expected full fragmented coverage ($ingested)")
      // (2) crash garbage: orphan chunk past the grid, unreferenced
      // staging dir, phantom stats segment — then vacuum reclaims it
      Files.createDirectories(Paths.get(path, "text", "c"))
      Files.write(Paths.get(path, "text", "c", "999999"), Array[Byte](1, 2, 3))
      Files.createDirectories(Paths.get(path, "n_chars", "c.part-junk-0"))
      Files.write(Paths.get(path, "n_chars", "c.part-junk-0", "0"), Array[Byte](4))
      Files.write(Paths.get(path, "_stats", "s999999_4.json"), "{}".getBytes)
      val junked = stat()
      require(junked.getLong(2) > junked.getLong(3),
        s"q142 junk: phantom segment must count raw-only ($junked)")
      val reclaimed = graft.zarr.ZarrMaintenance.vacuum(s, path).collect()
      require(reclaimed.map(r => r.getLong(1) + r.getLong(2) + r.getLong(3)).sum == 3,
        s"q142 vacuum: exactly the seeded garbage (${reclaimed.mkString(",")})")
      val vacuumed = stat()
      require(vacuumed.getLong(2) == vacuumed.getLong(3),
        s"q142 vacuum: raw must equal live ($vacuumed)")
      // (3) sidecar compaction to the coverage floor
      graft.zarr.ZarrMaintenance.compactStats(s, path): Unit
      val compacted = stat()
      require(compacted.getLong(3) == compacted.getLong(4) &&
        compacted.getDouble(7) == 1.0,
        s"q142 compaction: live segments must reach the floor ($compacted)")
    }

  /** Build the q137 store: a RAGGED-base sharded cube (days 0-6; day
    * shard 4 → partial edge chunk-row) grown to 12 days via a real
    * `append_dim` append — write-time inner docs at the base, edge-row
    * docs retired and re-emitted by the append, untouched docs
    * surviving it. */
  private def ensureAppendShardStore(s: SparkSession, dir: String): String =
    ensureDayGridStore(s, dir, "cubeappendshard", "/tmp/graft_zarr_cube_appendshard") {
      (dense, path) =>
        dense.filter(col("day") < 7).write.format("zarr").mode("append")
          .option("dims", "day,source")
          .option("chunk_shape", "2,4")
          .option("shard_shape", "4,8")
          .save(path)
        dense.filter(col("day") >= 7).write.format("zarr").mode("append")
          .option("append_dim", "day")
          .save(path)
    }

  /** q132: store observability under the oracle gate —
    * `ZarrInfo.describe` on the q131 SHARDED store, every layout fact
    * (dtype, shape, stored-chunk/shard layout, inner chunking, codec
    * chain, dimension names, grid capacity, TRUE stored-object count,
    * per-array-clamped sidecar coverage) pinned as a closed-form
    * VALUES literal. Metadata-only plus the opt-in stored-object LIST
    * (`countStored = true`, one recursive LIST per array, zero chunk
    * reads) — describing a 100 TB store costs the same as this 12×20
    * one. The grid shape is SF-independent (12 days × the fixed 20
    * sources), so one literal serves all SFs. Two stores under one
    * literal: the DENSE sharded store (stored objects equal grid
    * slots) and a SPARSE sibling with one data chunk object deleted —
    * its `n_stored_objects` row (15 < 16) oracle-pins that the stored
    * count reports physical objects, not grid capacity, while the
    * sidecar coverage stays whole (absent chunks are fill-value
    * semantics, not missing stats). */
  private lazy val q132 = QueryDef.sql(
    "q132_zarr_describe",
    """SELECT * FROM (VALUES
      |  ('sharded','day','coordinate',3,'int64','12','8',NULL,'bytes,blosc','day',2::BIGINT,2::BIGINT,2::BIGINT),
      |  ('sharded','n_docs','data',3,'int64','12x20','8x8','2x4','sharding_indexed','day,source',6::BIGINT,6::BIGINT,6::BIGINT),
      |  ('sharded','source','coordinate',3,'string','20','8',NULL,'vlen-utf8,blosc','source',3::BIGINT,3::BIGINT,3::BIGINT),
      |  ('sharded','sum_chars','data',3,'int64','12x20','8x8','2x4','sharding_indexed','day,source',6::BIGINT,6::BIGINT,6::BIGINT),
      |  ('sparse','day','coordinate',3,'int64','12','3',NULL,'bytes,blosc','day',4::BIGINT,4::BIGINT,4::BIGINT),
      |  ('sparse','n_docs','data',3,'int64','12x20','3x5',NULL,'bytes,blosc','day,source',16::BIGINT,15::BIGINT,16::BIGINT),
      |  ('sparse','source','coordinate',3,'string','20','5',NULL,'vlen-utf8,blosc','source',4::BIGINT,4::BIGINT,4::BIGINT),
      |  ('sparse','sum_chars','data',3,'int64','12x20','3x5',NULL,'bytes,blosc','day,source',16::BIGINT,16::BIGINT,16::BIGINT)
      |) t(store, array_name, kind, format_version, dtype, shape, chunk_shape,
      |    shard_inner_shape, codecs, dimension_names, n_grid_chunks,
      |    n_stored_objects, stats_covered_chunks)
      |ORDER BY store, array_name""".stripMargin) { (s, dir) =>
    val store = ensureShardedCubeStore(s, dir)
    val sparse = ensureSparseDescribeStore(s, dir)
    // one store counted by a Spark job (sharded; threshold forced to 0),
    // one on the driver (sparse): both counting schedulers stay under
    // the oracle gate
    graft.zarr.ZarrInfo.describeImpl(s, store, countStored = true, inlineMax = 0L)
      .withColumn("store", lit("sharded"))
      .unionByName(graft.zarr.ZarrInfo.describe(s, sparse, countStored = true)
        .withColumn("store", lit("sparse")))
      .withColumnRenamed("array", "array_name")
      .select(col("store"), col("array_name"), col("kind"),
        col("format_version"), col("dtype"), col("shape"), col("chunk_shape"),
        col("shard_inner_shape"), col("codecs"), col("dimension_names"),
        col("n_grid_chunks"), col("n_stored_objects"),
        col("stats_covered_chunks"))
      .orderBy("store", "array_name")
  }

  /** Build the q132 SPARSE store: the day×source cube (chunk 3×5, grid
    * 4×4 = 16 chunks per data array) with ONE committed n_docs chunk
    * object deleted — a legal sparse store (that chunk reads as fill
    * values) whose true stored-object count diverges from grid
    * capacity. */
  private def ensureSparseDescribeStore(s: SparkSession, dir: String): String =
    ensureDayGridStore(s, dir, "cubesparse|c3x5", "/tmp/graft_zarr_sparse_desc") {
      (dense, path) =>
        dense.write.format("zarr").mode("append")
          .option("dims", "day,source")
          .option("chunk_shape", "3,5")
          .save(path)
        Files.delete(Paths.get(path, "n_docs", "c", "0", "0"))
    }

  /** q133: the streaming CUBE SINK under the oracle gate — the shared
    * day×source grid delivered as four 3-day micro-batch slabs through
    * `ZarrCubeSink.appendBatch`, INCLUDING a replay of the third batch
    * (the foreachBatch at-least-once delivery the sink turns into
    * exactly-once via coordinate containment). Every cell of the grown
    * store hash-matches the same closed form as a single batch write —
    * a dropped slab, a double-applied replay, or a mis-ranked append
    * breaks the hash.
    *
    * Scale shape: each batch is ONE clustered shuffle of the slab's
    * rows + an O(store metadata) commit; the replay check is one
    * slab-axis-sized driver read. A day's trigger costs the day, not
    * the store. Memoized per SF. */
  private lazy val q133 = QueryDef.sql(
    "q133_zarr_cube_sink",
    """WITH cells AS (
      |  SELECT (doc_id % 12)::BIGINT AS day, source,
      |    count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.range::BIGINT AS day, s.source
      |  FROM range(12) d, (SELECT DISTINCT source FROM documents) s)
      |SELECT g.day, g.source,
      |  coalesce(c.n_docs, 0)::BIGINT AS n_docs,
      |  coalesce(c.sum_chars, 0)::BIGINT AS sum_chars
      |FROM grid g LEFT JOIN cells c ON g.day = c.day AND g.source = c.source
      |ORDER BY g.day, g.source""".stripMargin) { (s, dir) =>
    val store = ensureSinkCubeStore(s, dir)
    s.read.format("zarr").load(store)
      .select(col("day"), col("source"), col("n_docs"), col("sum_chars"))
      .orderBy("day", "source")
  }

  /** Build the q133 store: four 3-day slabs through the streaming cube
    * sink (day chunk 3 keeps every batch chunk-aligned), with batch 2
    * REPLAYED before batch 3 — the crash-after-commit delivery shape. */
  private def ensureSinkCubeStore(s: SparkSession, dir: String): String =
    ensureDayGridStore(s, dir, "cubesink|c3x6", "/tmp/graft_zarr_cube_sink") {
      (dense, path) =>
        def batch(lo: Int, hi: Int, id: Long): Unit =
          graft.streaming.ZarrCubeSink.appendBatch(
            dense.filter(col("day") >= lo && col("day") < hi), id, path,
            Seq("day", "source"), chunkShape = Some(Seq(3, 6)))
        batch(0, 3, 0L)
        batch(3, 6, 1L)
        batch(6, 9, 2L)
        batch(6, 9, 2L) // at-least-once replay: must be a no-op
        batch(9, 12, 3L)
    }

  /** q134: store VACUUM under the oracle gate — a fresh day×source cube
    * is polluted with exactly the garbage every interrupted-write shape
    * leaves behind (an orphan final-key chunk beyond the committed
    * grid, an unreferenced `c.part*` staging dir, a phantom stats
    * segment past the grid, a `_stats/c.part*` staging doc), then
    * `ZarrMaintenance.vacuum` reclaims it and reports per-target
    * deletion counts pinned as a VALUES literal. The pin is two-sided:
    * the counts prove the garbage WAS deleted, and the zero rows prove
    * nothing legitimate (valid chunks, live sidecar segments, metadata)
    * was touched — re-verified by the q134b-style assertions inside the
    * builder: the store reads back value-identical and stored objects
    * return to the clean count. SF-independent literal (12 days × the
    * fixed 20 sources). Driver-side maintenance, O(stored objects). */
  private lazy val q134 = QueryDef.sql(
    "q134_zarr_vacuum",
    """SELECT * FROM (VALUES
      |  ('_stats', 0::BIGINT, 0::BIGINT, 2::BIGINT),
      |  ('day', 0::BIGINT, 0::BIGINT, 0::BIGINT),
      |  ('n_docs', 1::BIGINT, 1::BIGINT, 0::BIGINT),
      |  ('source', 0::BIGINT, 0::BIGINT, 0::BIGINT),
      |  ('sum_chars', 0::BIGINT, 0::BIGINT, 0::BIGINT)
      |) t(target, orphan_chunks, staging_dirs, phantom_segments)
      |ORDER BY target""".stripMargin) { (s, dir) =>
    val store = buildPollutedStore(s, dir)
    // the Spark-job walk under the oracle gate (threshold forced to 0;
    // the driver-side twin is pinned equal in ZarrMaintenanceSpec)
    val out = graft.zarr.ZarrMaintenance.vacuumImpl(s, store, inlineMax = 0L)
      .orderBy("target")
    // force the vacuum before asserting the store is clean and intact
    val rows = out.collect()
    val after = graft.zarr.ZarrInfo.describe(s, store, countStored = true)
      .select("array", "n_grid_chunks", "n_stored_objects").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // dense store: stored objects back to exactly grid capacity
    require(after("n_docs") == ((16L, 16L)),
      s"vacuum left n_docs at ${after("n_docs")}, want (16,16)")
    require(s.read.format("zarr").load(store).count() == 12L * 20L,
      "vacuum must not change the store's readable contents")
    // the polluted copy is single-use; reclaim its UUID dir now that the
    // result is materialized — the vacuum demo must not itself litter
    // /tmp across warmup + bench + verify invocations (stream closed:
    // Files.walk holds directory handles until then)
    val copyRoot = Paths.get(store).getParent
    val walk = Files.walk(copyRoot)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p): Unit)
    finally walk.close()
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.toSeq.asJava),
      out.schema)
  }

  /** q135: a 4-D cube under the oracle gate — day × epoch × len_bucket
    * × source (the time×level×lat×lon shape of real climate/feature
    * stores, one dimension PAST the reference's `Only 1-3 dimensional
    * arrays` cap). The store is written through the dimension-generic
    * cube pipeline (chunk 3×1×2×6: edge chunks on three dims) and every
    * cell is read back through the DSv2 scan — a mis-ranked axis, a
    * wrong 4-D row-major ordinal, or a broken 4-D coordinate broadcast
    * breaks the hash against the DuckDB closed form. Memoized per SF. */
  private lazy val q135 = QueryDef.sql(
    "q135_zarr_cube_4d",
    """WITH cells AS (
      |  SELECT (doc_id % 12)::BIGINT AS day, ((doc_id // 12) % 2)::BIGINT AS epoch,
      |    (n_chars % 3)::BIGINT AS len_bucket, source,
      |    count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |  FROM documents GROUP BY 1, 2, 3, 4),
      |grid AS (
      |  SELECT d.range::BIGINT AS day, e.range::BIGINT AS epoch,
      |    b.range::BIGINT AS len_bucket, s.source
      |  FROM range(12) d, range(2) e, range(3) b,
      |    (SELECT DISTINCT source FROM documents) s)
      |SELECT g.day, g.epoch, g.len_bucket, g.source,
      |  coalesce(c.n_docs, 0)::BIGINT AS n_docs,
      |  coalesce(c.sum_chars, 0)::BIGINT AS sum_chars
      |FROM grid g LEFT JOIN cells c ON g.day = c.day AND g.epoch = c.epoch
      |  AND g.len_bucket = c.len_bucket AND g.source = c.source
      |ORDER BY g.day, g.epoch, g.len_bucket, g.source""".stripMargin) { (s, dir) =>
    val store = ensure4dCubeStore(s, dir)
    s.read.format("zarr").load(store)
      .select(col("day"), col("epoch"), col("len_bucket"), col("source"),
        col("n_docs"), col("sum_chars"))
      .orderBy("day", "epoch", "len_bucket", "source")
  }

  /** Build the q135 4-D store: the day×epoch×len_bucket×source dense
    * grid (12×2×3×20) written with chunk 3×1×2×6 — edge chunks on the
    * day, len_bucket and source dims. */
  private def ensure4dCubeStore(s: SparkSession, dir: String): String =
    ensureDayGridStore(s, dir, "cube4d|c3x1x2x6", "/tmp/graft_zarr_cube_4d") {
      (_, path) =>
        // ensureDayGridStore's dense frame is 2-D; build the 4-D grid here
        val docs = Tables.load(s, dir, "documents")
        val cells = docs.groupBy(
          pmod(col("doc_id"), lit(12L)).as("day"),
          expr("(doc_id div 12) % 2").cast("long").as("epoch"),
          pmod(col("n_chars"), lit(3L)).cast("long").as("len_bucket"),
          col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        val grid = s.range(12).select(col("id").as("day"))
          .crossJoin(s.range(2).select(col("id").as("epoch")))
          .crossJoin(s.range(3).select(col("id").as("len_bucket")))
          .crossJoin(docs.select(col("source")).distinct())
        val dense = grid.join(cells, Seq("day", "epoch", "len_bucket", "source"), "left")
          .select(col("day"), col("epoch"), col("len_bucket"), col("source"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("sum_chars"), lit(0L)).as("sum_chars"))
        dense.write.format("zarr").mode("append")
          .option("dims", "day,epoch,len_bucket,source")
          .option("chunk_shape", "3,1,2,6")
          .save(path)
    }

  /** Build a FRESH polluted store (non-memoized: the query deletes the
    * garbage it injects, so reuse would change the answer). The CLEAN
    * cube is memoized like every other q12x store; each call copies it
    * (a handful of small objects) into a UUID dir and pollutes the copy
    * with one instance of each garbage shape vacuum owns. */
  private def buildPollutedStore(s: SparkSession, dir: String): String = {
    val clean = ensureDayGridStore(s, dir, "cubevac|c3x5", "/tmp/graft_zarr_vacuum_clean") {
      (dense, path) =>
        dense.write.format("zarr").mode("append")
          .option("dims", "day,source")
          .option("chunk_shape", "3,5") // grid 4×4 = 16 chunks
          .save(path)
    }
    val path = s"/tmp/graft_zarr_vacuum/${java.util.UUID.randomUUID().toString.take(12)}/day_cells"
    Files.createDirectories(Paths.get(path).getParent)
    val src = Paths.get(clean)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      if (Files.isRegularFile(p)) {
        val t = Paths.get(path).resolve(src.relativize(p).toString)
        Files.createDirectories(t.getParent)
        Files.copy(p, t): Unit
      }
    } finally walk.close()
    // orphan final-key chunk beyond the committed day grid (crashed append)
    Files.createDirectories(Paths.get(path, "n_docs", "c", "7"))
    Files.write(Paths.get(path, "n_docs", "c", "7", "0"), Array[Byte](1, 2, 3))
    // staging dir no manifest references (crashed staged commit)
    Files.createDirectories(Paths.get(path, "n_docs", "c.part-vac-0"))
    Files.write(Paths.get(path, "n_docs", "c.part-vac-0", "0"), Array[Byte](4, 5))
    // phantom stats segment past the grid + a stats staging doc
    Files.write(Paths.get(path, "_stats", "s999_4.json"), "{}".getBytes)
    Files.write(Paths.get(path, "_stats", "c.partvac-0_4.json"), "{}".getBytes)
    path
  }

  /** Build the q131 sharded cube store: the shared day×source grid
    * written with 2×4 inner chunks packed into 8×8 shards (edge shards
    * on both dims). The key tag carries the layout so a layout change
    * can never silently reuse a stale memoized store. */
  private def ensureShardedCubeStore(s: SparkSession, dir: String): String =
    ensureDayGridStore(s, dir, "cubeshard|c2x4|s8x8", "/tmp/graft_zarr_cube_shard") {
      (dense, path) =>
        dense.write.format("zarr").mode("append")
          .option("dims", "day,source")
          .option("chunk_shape", "2,4")
          .option("shard_shape", "8,8")
          .save(path)
    }

  /** Build the q125 cube store once per (dir, source size/mtime);
    * bench/verify re-runs reuse it. Same memoize-and-rename discipline
    * as [[ensureStore]]. */
  private def ensureCubeStore(s: SparkSession, dir: String): String =
    ensureMemoizedStore(dir, "cube", "/tmp/graft_zarr_cube", "doc_cells") { path =>
      val docs = Tables.load(s, dir, "documents")
      val cells = docs
        .groupBy(col("source"), pmod(col("doc_id"), lit(8L)).as("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      // densify: the cube layout requires the full cross product — zero
      // cells for (source, bucket) combinations with no documents. Both
      // grid sides are axis-sized (20 sources × 8 buckets).
      val grid = docs.select(col("source")).distinct()
        .crossJoin(s.range(8).select(col("id").as("bucket")))
      val dense = grid.join(cells, Seq("source", "bucket"), "left")
        .select(col("source"), col("bucket"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("sum_chars"), lit(0L)).as("sum_chars"))
      dense.write.format("zarr").mode("append")
        .option("dims", "source,bucket")
        .option("chunk_shape", "6,5")
        .save(path)
    }

  /** Locate a checked-in fixture store without assuming a container
    * path: explicit override (`-Dgraft.fixture.dir` / `GRAFT_FIXTURE_DIR`)
    * → repo-root-relative cwd → the test-resources classpath. */
  private def fixturePath(name: String): String = {
    val explicit = Seq(
      sys.props.get("graft.fixture.dir"),
      sys.env.get("GRAFT_FIXTURE_DIR"))
      .flatten.map(d => new java.io.File(d, name))
    val candidates = explicit :+ new java.io.File(s"src/test/resources/$name")
    candidates.find(_.isDirectory).map(_.getAbsolutePath).getOrElse {
      val url = Thread.currentThread().getContextClassLoader.getResource(name)
      if (url != null && url.getProtocol == "file")
        new java.io.File(url.toURI).getAbsolutePath
      else
        throw new IllegalStateException(
          s"Zarr v2 fixture '$name' not found: set -Dgraft.fixture.dir " +
            "(or GRAFT_FIXTURE_DIR) or run from the repo root")
    }
  }
}
