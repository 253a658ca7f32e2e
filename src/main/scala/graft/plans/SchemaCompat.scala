package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** q317: schema-compatibility checker — the data-contract gate in front
  * of sink_schema_evolution (which MERGES evolved batches; this decides
  * whether an evolution is SAFE to accept): field-by-field diff of a
  * proposed writer schema against the established reader schema,
  * classified by who breaks:
  *
  *  - `ok`            — no change, or required→nullable relaxation;
  *  - `widening-ok`   — numeric widening the parquet/Spark read path
  *                      resolves losslessly (int→long, float→double);
  *  - `add-nullable`  — new optional field: old data reads as null,
  *                      old readers project it away;
  *  - `add-required`  — new REQUIRED field: every existing file lacks
  *                      it — breaking for old data;
  *  - `removed`       — breaking for every reader that selects it;
  *  - `type-change` / `narrowing` / `required-tightened` — breaking.
  *
  * Pure metadata — bounded by #fields, never data (the MvAdvisor
  * discipline); usable as a CI gate on landing schemas. */
object SchemaCompat {

  final case class FieldDiff(field: String, change: String, detail: String, verdict: String)

  private val widenings: Set[(DataType, DataType)] = Set(
    (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
    (ShortType, IntegerType), (ShortType, LongType),
    (IntegerType, LongType), (FloatType, DoubleType))

  def diff(reader: StructType, writer: StructType): Seq[FieldDiff] = {
    val r = reader.fields.map(f => f.name -> f).toMap
    val w = writer.fields.map(f => f.name -> f).toMap
    val removed = reader.fields.filterNot(f => w.contains(f.name)).map { f =>
      FieldDiff(f.name, "removed", s"${f.dataType.simpleString} dropped", "breaking")
    }
    val added = writer.fields.filterNot(f => r.contains(f.name)).map { f =>
      if (f.nullable)
        FieldDiff(f.name, "add-nullable", s"new optional ${f.dataType.simpleString}", "ok")
      else
        FieldDiff(f.name, "add-required",
          s"new REQUIRED ${f.dataType.simpleString}: existing files lack it", "breaking")
    }
    val changed = reader.fields.filter(f => w.contains(f.name)).flatMap { rf =>
      val wf = w(rf.name)
      val typeDiff: Option[FieldDiff] =
        if (rf.dataType == wf.dataType) None
        else if (widenings.contains((rf.dataType, wf.dataType)))
          Some(FieldDiff(rf.name, "widening-ok",
            s"${rf.dataType.simpleString} → ${wf.dataType.simpleString}", "ok"))
        else if (widenings.contains((wf.dataType, rf.dataType)))
          Some(FieldDiff(rf.name, "narrowing",
            s"${rf.dataType.simpleString} → ${wf.dataType.simpleString}", "breaking"))
        else
          Some(FieldDiff(rf.name, "type-change",
            s"${rf.dataType.simpleString} → ${wf.dataType.simpleString}", "breaking"))
      val nullDiff: Option[FieldDiff] =
        if (rf.nullable == wf.nullable) None
        else if (!rf.nullable && wf.nullable)
          Some(FieldDiff(rf.name, "relaxed-nullable", "required → nullable", "ok"))
        else
          Some(FieldDiff(rf.name, "required-tightened",
            "nullable → required: existing nulls violate it", "breaking"))
      typeDiff.toSeq ++ nullDiff.toSeq
    }
    (removed ++ added ++ changed).sortBy(d => (d.field, d.change)).toSeq
  }

  /** Gate form: true iff no breaking change. */
  def compatible(reader: StructType, writer: StructType): Boolean =
    diff(reader, writer).forall(_.verdict != "breaking")

  /** Registered surface: the events schema diffed against a
    * representative v2 evolution (narrow value to float, add optional
    * session_id, drop props, tighten user_id to required) —
    * deterministic from the table schema alone, exercising one row of
    * each verdict class. */
  def eventsV2Report(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val reader = events.schema
    val v2 = StructType(
      reader.fields.flatMap {
        case f if f.name == "props" => None // dropped
        case f if f.name == "value" => Some(f.copy(dataType = FloatType))
        case f if f.name == "user_id" => Some(f.copy(nullable = false))
        case f => Some(f)
      } :+ StructField("session_id", StringType, nullable = true))
    diff(reader, v2).toDF()
  }
}
