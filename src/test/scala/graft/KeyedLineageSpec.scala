package graft

import graft.sources.{KeyedSource, KeyedStats}
import graft.sources.KeyedSource.{AddCol, Lineage, RenCol, SchemaOp, WidenCol}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The lineage resolver ([[KeyedSource.Lineage]]) as one table: written
  * type × declared type × schema-evolution op. Each row pins (1) the
  * resolver's answer per declared column and (2) whether each surface
  * that reads a generation under the declaration accepts it: the data
  * read, the stats sidecar parse (the view's sidecar), the order
  * marker, and the KMV sketch merge (an edited view's table NDV). Every
  * layout is staged, evolved, then appended to under the declaration,
  * so the view mixes a pre-evolution generation with a current one. */
class KeyedLineageSpec extends SparkSpec {

  private val key = "kb"

  /** One row: the written column `v` type, the ops, the declaration, the
    * sort column at stage time and at append time, and the expected
    * acceptance of the data read, sidecar, order marker and NDV. */
  private case class Row(name: String, vType: String, ops: Seq[SchemaOp],
      declared: String, sortStaged: String, sortDeclared: String,
      data: Boolean, sidecar: Boolean, marker: Boolean, ndv: Boolean)

  private val base = "kb BIGINT, doc_id BIGINT"
  private val table = Seq(
    Row("none", "BIGINT", Nil, s"$base, v BIGINT", "v", "v",
      data = true, sidecar = true, marker = true, ndv = true),
    // no lineage: the data read decodes by position, the positional
    // stats refuse, the name-tagged marker still resolves
    Row("reordered declaration, no ops", "BIGINT", Nil,
      "kb BIGINT, v BIGINT, doc_id BIGINT", "v", "v",
      data = true, sidecar = false, marker = true, ndv = false),
    Row("INT declared BIGINT, no ops", "INT", Nil, s"$base, v BIGINT", "v", "v",
      data = true, sidecar = false, marker = false, ndv = false),
    Row("rename", "BIGINT", Seq(RenCol("v", "w")), s"$base, w BIGINT", "v", "w",
      data = true, sidecar = true, marker = true, ndv = false),
    Row("add", "BIGINT", Seq(AddCol("lang", isLong = false, "en")),
      s"$base, v BIGINT, lang STRING", "v", "v",
      data = true, sidecar = true, marker = true, ndv = false),
    Row("INT widening", "INT", Seq(WidenCol("v")), s"$base, v BIGINT", "v", "v",
      data = true, sidecar = true, marker = true, ndv = true),
    Row("FLOAT widening", "FLOAT", Seq(WidenCol("v")), s"$base, v DOUBLE", "v", "v",
      data = true, sidecar = true, marker = true, ndv = false),
    Row("type drift", "BIGINT", Seq(AddCol("lang", isLong = false, "en")),
      s"$base, v STRING, lang STRING", "v", "v",
      data = false, sidecar = false, marker = false, ndv = false),
    Row("unresolvable column", "BIGINT", Seq(AddCol("lang", isLong = false, "en")),
      s"$base, v BIGINT, lang STRING, ghost BIGINT", "v", "v",
      data = false, sidecar = false, marker = true, ndv = false))

  private def read(dir: String, ddl: String): DataFrame =
    spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", key).load()

  /** Stage 32 rows with `v` of the row's type, record its ops, then
    * append 4 rows of a new key under the declaration. */
  private def layout(r: Row): String = {
    val dir = graft.io.TempDirs.scratch("graft_lineage_") + "/t"
    val staged = spark.range(32).selectExpr("id % 4 AS kb", "id AS doc_id",
      s"CAST(id * 3 AS ${r.vType}) AS v")
    KeyedSource.stageKeyed(spark, staged, dir, key,
      sortBy = Seq(r.sortStaged), retain = 4)
    if (r.ops.nonEmpty) KeyedSource.evolveKeyed(spark, dir, staged.schema, r.ops)
    val declared = StructType.fromDDL(r.declared)
    spark.range(4).selectExpr(declared.fields.toSeq.map(f => f.name match {
      case "kb" => "CAST(9 AS BIGINT) AS kb"
      case "doc_id" => "100 + id AS doc_id"
      case n => s"CAST(id AS ${f.dataType.sql}) AS $n"
    }): _*).write.format("graft-keyed").option("schema", r.declared)
      .option("key", key).option("sortBy", r.sortDeclared)
      .mode("append").save(dir)
    dir
  }

  test("the resolver answers every row of the table") {
    import Lineage.{Const, FloatToDouble, IntToBigint, Refused, Same, Stored}
    val s0 = Stored(0, Same); val s1 = Stored(1, Same)
    val refusedAll = (cols: Seq[Lineage.Col]) => cols.forall(_.isInstanceOf[Refused])
    def answers(name: String, cols: Seq[Lineage.Col]): Boolean = (name, cols) match {
      case ("none" | "rename", _) => cols == Seq(s0, s1, Stored(2, Same))
      case ("reordered declaration, no ops" | "INT declared BIGINT, no ops", _) =>
        refusedAll(cols)
      case ("add", _) => cols == Seq(s0, s1, Stored(2, Same), Const(isLong = false, "en"))
      case ("INT widening", _) => cols == Seq(s0, s1, Stored(2, IntToBigint))
      case ("FLOAT widening", _) => cols == Seq(s0, s1, Stored(2, FloatToDouble))
      case ("type drift", Seq(`s0`, `s1`, Refused(why), Const(false, "en"))) =>
        why.contains("type changes refuse")
      case ("unresolvable column",
          Seq(`s0`, `s1`, Stored(2, Same), Const(false, "en"), Refused(why))) =>
        why.contains("cannot resolve column 'ghost'")
      case _ => false
    }
    table.foreach { r =>
      val written = StructType.fromDDL(s"$base, v ${r.vType}")
      val cols = Lineage(r.ops).resolve(written, StructType.fromDDL(r.declared))
      assert(answers(r.name, cols), s"${r.name}: $cols")
    }
    // a reordered declaration resolves by name once the layout records
    // any op, and the order marker resolves tags by name either way
    val written = StructType.fromDDL(s"$base, v BIGINT")
    assert(Lineage(Seq(RenCol("doc_id", "d"))).resolve(written,
      StructType.fromDDL("kb BIGINT, v BIGINT, d BIGINT")) ==
      Seq(Stored(0, Same), Stored(2, Same), Stored(1, Same)))
    assert(Lineage.empty.column(StructType.fromDDL("v BIGINT"),
      StructType.fromDDL("v BIGINT")("v")) == Stored(0, Same))
  }

  test("data read, sidecar, order marker and NDV accept or refuse as the table says") {
    val hconf = spark.sessionState.newHadoopConf()
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    table.foreach { r =>
      val dir = layout(r)
      val declared = StructType.fromDDL(r.declared)
      val view = KeyedSource.resolveView(dir, hconf, None)
      assert(view.edits.nonEmpty, s"${r.name}: the append must edit the view")
      val data = scala.util.Try(read(dir, r.declared).collect()).toOption
      data.foreach(rows => assert(rows.length == 36, s"${r.name}: ${rows.length} rows"))
      val sidecar = KeyedStats.readView(view, conf, declared, key)
      val got = (data.isDefined, sidecar.isDefined,
        KeyedSource.readOrderMarkerView(view, conf, declared, key).isDefined,
        sidecar.exists(_.table.isDefined))
      assert(got == ((r.data, r.sidecar, r.marker, r.ndv)),
        s"${r.name}: (data, sidecar, marker, ndv) = $got")
    }
  }
}
