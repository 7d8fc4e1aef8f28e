package graft.core

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** What an index generation says about itself: its integer parameters
  * (a banding, a quantizer arity) and the schema of each of its tables.
  * It is the small JSON file `meta` inside the generation,
  *
  * {{{ {"rows_per_band": 4, "schemas": {"fps": <StructType JSON>, ...}} }}}
  *
  * read and written on the driver, so opening an index runs no Spark
  * job: tables open with their known schema instead of a
  * schema-inference job each.
  *
  * A generation written before this carries a one-row parquet table
  * `meta` instead, one column per parameter. It still opens: its
  * parameters come from that row (two jobs) and its schemas are unknown,
  * so its tables open by inference, as they always did. */
final case class IndexMeta(params: Map[String, Int], schemas: Map[String, StructType]) {

  def param(name: String): Int = params.getOrElse(name,
    throw new IllegalStateException(s"index meta has no parameter $name: $params"))

  /** Table `table` stored at `paths`, with the known schema when there
    * is one (no job), else by inference. */
  def open(spark: SparkSession, table: String, paths: Seq[String]): DataFrame =
    schemas.get(table).fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))

  /** Fail, naming the table and the column, when `df` is not the stored
    * schema of `table` (nullability aside: a reader sees every column
    * nullable). A meta without schemas checks nothing. */
  def requireSchema(table: String, df: DataFrame): Unit = schemas.get(table).foreach { stored =>
    val got = PlanBridge.asNullable(df.schema)
    val byName = got.fields.map(f => f.name -> f.dataType).toMap
    val problems =
      stored.fields.toSeq.flatMap { f =>
        byName.get(f.name) match {
          case None => Some(s"column ${f.name} is missing (index has ${f.dataType.simpleString})")
          case Some(t) if t != f.dataType =>
            Some(s"column ${f.name} is ${t.simpleString}, index has ${f.dataType.simpleString}")
          case _ => None
        }
      } ++ got.fieldNames.filterNot(stored.fieldNames.contains).map(c => s"column $c is not in the index")
    require(problems.isEmpty, s"schema of index table $table differs: ${problems.mkString("; ")}")
  }
}

object IndexMeta {

  val Name = "meta"
  private val Schemas = "schemas"
  private val mapper = new ObjectMapper()

  /** The meta of `params` and the given tables, with each table's
    * schema as a reader of its parquet files sees it. */
  def of(params: Map[String, Int], tables: (String, DataFrame)*): IndexMeta =
    IndexMeta(params, tables.map { case (t, df) => t -> PlanBridge.asNullable(df.schema) }.toMap)

  /** Write `meta` into the generation (or stage) `gen`. */
  def write(spark: SparkSession, gen: String, meta: IndexMeta): Unit = {
    val root = mapper.createObjectNode()
    meta.params.toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v) }
    val schemas = root.putObject(Schemas)
    meta.schemas.toSeq.sortBy(_._1).foreach { case (t, s) =>
      schemas.set[JsonNode](t, withoutEmptyMetadata(mapper.readTree(s.json)))
    }
    val p = new Path(gen, Name)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, false)
    try out.write(mapper.writeValueAsBytes(root)) finally out.close()
  }

  /** A StructType JSON without its empty `metadata` objects, which
    * `DataType.fromJson` restores: most of the file's bytes otherwise. */
  private def withoutEmptyMetadata(node: JsonNode): JsonNode = {
    node match {
      case o: ObjectNode =>
        if (o.has("metadata") && o.get("metadata").isEmpty) o.remove("metadata")
      case _ =>
    }
    node.elements().asScala.foreach(withoutEmptyMetadata)
    node
  }

  /** The meta of the generation `gen`: the JSON file, or the one-row
    * parquet table of an older layout. */
  def read(spark: SparkSession, gen: String): IndexMeta = {
    val p = new Path(gen, Name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.getFileStatus(p).isDirectory) {
      val row = spark.read.parquet(p.toString).head()
      IndexMeta(row.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> row.getInt(i) }.toMap,
        Map.empty)
    } else {
      val in = fs.open(p)
      val root = try mapper.readTree(in) finally in.close()
      val fields = root.properties().asScala.map(e => e.getKey -> e.getValue).toMap
      IndexMeta(
        (fields - Schemas).map { case (k, v) => k -> v.asInt() },
        fields.get(Schemas).toSeq.flatMap(_.properties().asScala).map { e =>
          e.getKey -> DataType.fromJson(e.getValue.toString).asInstanceOf[StructType]
        }.toMap)
    }
  }
}
