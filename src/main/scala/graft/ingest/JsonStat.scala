package graft.ingest

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.DataFrame

/** JSON-stat decoder — the Spark-side port of the reference's extraction
  * script (`scripts/extract_eurostat.py:120-178`): a JSON-stat dataset
  * carries dimension ids, per-dimension ordered category codes/labels, and
  * a SPARSE map of flat-index → value; row-major strides decode each flat
  * index back into per-dimension codes.
  *
  * Implemented as pure column expressions: `from_json` → `explode` of the
  * sparse value map → integer div/mod stride arithmetic — fully
  * distributed, no driver-side loop, so a 100 TB backfill of raw API
  * payloads decodes as an ordinary scan.
  */
object JsonStat {

  /** Schema of one JSON-stat payload (the subset the extractor reads). */
  val payloadSchema: StructType = StructType(Seq(
    StructField("id", ArrayType(StringType)),             // dimension ids, in order
    StructField("size", ArrayType(IntegerType)),          // dimension sizes, same order
    StructField("value", MapType(StringType, DoubleType)),// flat index (as string) → value
    StructField("dimension", MapType(StringType,          // dim id → category
      StructType(Seq(StructField("category", StructType(Seq(
        StructField("index", MapType(StringType, IntegerType)), // code → position
        StructField("label", MapType(StringType, StringType)))) // code → label
      )))))))

  /** Corrupt-payload audit — the PERMISSIVE half of the ingest contract:
    * [[decode]] silently DROPS payloads `from_json` can't parse (null
    * struct) or that parse without the fields the stride decode needs;
    * this surfaces them for alerting/quarantine instead. A malformed API
    * response is a data condition to report, not a pipeline failure.
    */
  def corruptPayloads(df: DataFrame): DataFrame =
    df.withColumn("js", from_json(col("payload"), payloadSchema))
      .filter(col("js").isNull || col("js.id").isNull ||
              col("js.size").isNull || col("js.value").isNull ||
              // a missing dimension map doesn't stop the explode — it
              // yields rows with null codes/labels, which is exactly the
              // garbage this audit exists to surface
              col("js.dimension").isNull)
      .select(col("dataset_code"), col("payload"))

  /** Decode a DataFrame with (`dataset_code`, `payload` json string) into
    * flat rows: dataset_code, flat_idx, value, plus `{dim}_code` /
    * `{dim}_label` for each of `dims`.
    *
    * Strides: stride(d) = Π size(d+1..); code position for dim d of flat
    * index i = (i / stride(d)) % size(d) (`extract_eurostat.py:150-155`).
    * The position→code lookup inverts the category index map with
    * `map_from_entries` over swapped entries.
    */
  def decode(df: DataFrame, dims: Seq[String]): DataFrame = {
    val parsed = df
      .withColumn("js", from_json(col("payload"), payloadSchema))
      .select(col("*"), explode(col("js.value")).as(Seq("flat_idx_str", "value")))
      .withColumn("flat_idx", col("flat_idx_str").cast(LongType))

    // pos→code map per dimension: invert category.index (code→pos)
    def posToCode(dim: String) = map_from_entries(
      transform(map_entries(col(s"js.dimension.$dim.category.index")),
        e => struct(e.getField("value").as("pos"), e.getField("key").as("code"))))

    dims.zipWithIndex.foldLeft(parsed) { case (acc, (dim, d)) =>
      // stride(d) = product of sizes after d — aggregate over the size slice
      val stride = aggregate(
        slice(col("js.size"), lit(d + 2), size(col("js.size"))),
        lit(1L), (a, x) => a * x)
      val pos  = (col("flat_idx") / stride).cast(LongType) % col("js.size")(d)
      val code = element_at(posToCode(dim), pos.cast(IntegerType))
      acc
        .withColumn(s"${dim}_code", code)
        .withColumn(s"${dim}_label",
          element_at(col(s"js.dimension.$dim.category.label"), code))
    }
      .select(Seq(col("dataset_code"), col("value")) ++
        dims.flatMap(d => Seq(col(s"${d}_code"), col(s"${d}_label"))): _*)
  }
}
