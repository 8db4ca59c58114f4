package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** The `export` verb (K1–K3 + P6 + P9 — ethical_crawler.py:1072–1100,
  * :1352–1413): optional raw WHERE predicate, then write as
  * parquet/csv/json, plus the distinct-sources attribution footer.
  *
  * The predicate goes through `expr(...)` so it stays a Catalyst
  * filter (pushdown applies — the reference splices raw SQL strings,
  * :1078–1080, an injection hole we deliberately narrow to a
  * predicate grammar).
  */
object ExportOps {

  val Formats: Set[String] = Set("parquet", "csv", "json")

  /** Filter + write; returns the exported DataFrame (pre-write plan)
    * for inspection. Writes are distributed (one file per partition;
    * callers coalesce if a single file is the contract).
    */
  def export(df: DataFrame, whereClause: Option[String], format: String,
      path: String): DataFrame = {
    require(Formats.contains(format), s"unsupported format: $format")
    val filtered = whereClause.fold(df)(w => df.filter(expr(w)))
    val out = if (format == "csv") atomicOnly(filtered) else filtered
    val writer = out.write.mode(SaveMode.Overwrite)
    format match {
      case "parquet" => writer.parquet(path)
      case "csv" => writer.option("header", "true").csv(path)
      case "json" => writer.json(path)
    }
    filtered
  }

  /** CSV cells hold atomic values only: array, map and struct columns
    * are rendered as their JSON text.
    */
  private def atomicOnly(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case _: ArrayType | _: MapType | _: StructType =>
          to_json(c).as(f.name)
        case _ => c
      }
    }: _*)

  /** P9 — the attribution footer: distinct sources in the exported
    * slice (ethical_crawler.py:1383–1388).
    */
  def attribution(df: DataFrame, sourceCol: String,
      whereClause: Option[String]): DataFrame =
    ReferenceOps.distinctValues(
      whereClause.fold(df)(w => df.filter(expr(w))), sourceCol)
}
