package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/**
 * Driver-side parquet-footer schema recovery for STATE READ-BACKS
 * (r17 floor lever, guide §1.2 — don't compute things you throw away).
 *
 * `spark.read.parquet(path)` re-infers the schema on every call; on this
 * host that inference costs ~65 ms per relation on top of the ~5 ms
 * explicit-schema path (OPTIMIZATION_r17.md, "The per-query floor").
 * The replay/streaming operators re-read small state they (or an earlier
 * batch) JUST wrote many times per invocation — merge base images, pre-/post-images,
 * sketch-delta folds, compaction folds — so the inference tax recurs per
 * micro-batch, not per table.
 *
 * Spark's parquet writer embeds the exact Spark schema in every file
 * footer (`org.apache.spark.sql.parquet.row.metadata`), and Spark's own
 * inference deserializes that very string when present. This helper does
 * the same read DIRECTLY on the driver — one footer open of the first
 * data file, microseconds of metadata IO, no throwaway relation — and
 * passes the recovered schema explicitly. By construction the result is
 * identical to what inference would return for Spark-written files; a
 * file without the Spark key (foreign writer) or any IO trouble falls
 * back to ordinary inference, so behavior can never diverge.
 *
 * METADATA only: every query still scans its parquet inputs in full.
 * Partitioned layouts (`batch_id=`, `cid=`) keep their directory-derived
 * partition columns by appending the caller-declared partition fields —
 * the same (name, type) partition discovery infers for these layouts.
 */
object ParquetMeta {

  private val SparkMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** First plain data file under `p` (recursive, hidden entries skipped) —
    * the file whose footer carries the writer's schema. */
  private def firstDataFile(fs: FileSystem, p: Path): Option[Path] = {
    val st = fs.listStatus(p)
    st.collectFirst {
      case s if s.isFile && s.getLen > 0 &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".") => s.getPath
    }.orElse {
      st.iterator
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .flatMap(s => firstDataFile(fs, s.getPath))
        .nextOption()
    }
  }

  /** The Spark schema recorded in the footer of the first data file under
    * `paths`, if any file exists and was written by Spark. `None` means
    * "fall back to inference". */
  def schemaOf(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      paths.iterator.flatMap { s =>
        val p = new Path(s)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) firstDataFile(fs, p).iterator else Iterator.empty
      }.nextOption().flatMap { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
              .get(SparkMetadataKey))
            .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
            // inference returns everything nullable (file-source contract:
            // other files of the relation may hold nulls) — match it
            // exactly, nullability included
            .collect { case s: StructType =>
              asNullable(s).asInstanceOf[StructType] }
        } finally reader.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Recursively nullable copy — the file-source inference contract
    * (other files of the relation may hold nulls), mirroring Spark's
    * private `DataType.asNullable`. */
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = asNullable(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = asNullable(m.keyType),
        valueType = asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** `spark.read.parquet(paths)` with the footer-recovered schema passed
    * explicitly (skipping the per-relation inference job), falling back to
    * plain inference when no Spark footer schema is recoverable.
    * `partCols` declares the directory partition columns of the layout
    * (appended after the file columns — the position inference gives
    * them); pass the same (name, type) pairs discovery would infer. */
  def read(spark: SparkSession, paths: Seq[String],
           partCols: Seq[StructField] = Nil): DataFrame =
    schemaOf(spark, paths) match {
      case Some(s) =>
        spark.read.schema(StructType(s.fields.toSeq ++ partCols)).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
}
