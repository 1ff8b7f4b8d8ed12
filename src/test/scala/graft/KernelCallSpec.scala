package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.h3.{Edges, H3}
import graft.spark.{H3Functions, KernelCall}
import graft.ops.OpsFunctions

/** Every SQL function registered as a [[KernelCall]]: the result type and
  * nullability of the hand-written expression it replaced, and the same
  * results with and without generated code. */
class KernelCallSpec extends AnyFunSuite {
  private def spark: SparkSession = SparkTestBase.spark

  private val all = H3Functions.all ++ OpsFunctions.all

  /** name -> (result type, nullable on non-null inputs, nullable on nullable
    * inputs, input types), captured from the hand-written expressions
    * before they were replaced; `!` marks a non-null element or field. */
  private val parentTypes: Map[String, (String, Boolean, Boolean, String)] = Map(
    "h3_latlng_to_cell" -> ("bigint", true, true, "double,double,int"),
    "h3_cell_to_parent" -> ("bigint", true, true, "bigint,int"),
    "h3_cell_to_center_child" -> ("bigint", true, true, "bigint,int"),
    "h3_cell_to_children_size" -> ("bigint", false, true, "bigint,int"),
    "h3_cell_to_child_pos" -> ("bigint", true, true, "bigint,int"),
    "h3_child_pos_to_cell" -> ("bigint", true, true, "bigint,bigint,int"),
    "h3_get_resolution" -> ("int", false, true, "bigint"),
    "h3_get_base_cell" -> ("int", false, true, "bigint"),
    "h3_is_valid_cell" -> ("boolean", false, true, "bigint"),
    "h3_is_pentagon" -> ("boolean", false, true, "bigint"),
    "h3_cell_to_latlng" -> ("struct<lat:double!,lng:double!>", false, true, "bigint"),
    "h3_cell_to_lat" -> ("double", false, true, "bigint"),
    "h3_cell_to_lng" -> ("double", false, true, "bigint"),
    "h3_cell_to_boundary" -> ("array<struct<lat:double!,lng:double!>!>", false, true, "bigint"),
    "h3_cell_area_rads2" -> ("double", false, true, "bigint"),
    "h3_cell_area_km2" -> ("double", false, true, "bigint"),
    "h3_grid_distance" -> ("bigint", true, true, "bigint,bigint"),
    "h3_are_neighbor_cells" -> ("boolean", false, true, "bigint,bigint"),
    "h3_great_circle_distance_m" -> ("double", false, true, "double,double,double,double"),
    "h3_great_circle_distance_km" -> ("double", false, true, "double,double,double,double"),
    "h3_great_circle_distance_rads" -> ("double", false, true, "double,double,double,double"),
    "h3_get_hexagon_area_avg_rads2" -> ("double", false, true, "int"),
    "h3_res0_cell_count" -> ("bigint", false, true, "int"),
    "h3_to_string" -> ("string", false, true, "bigint"),
    "h3_from_string" -> ("bigint", true, true, "string"),
    "h3_compact_cells" -> ("array<bigint!>", false, true, "array<bigint>"),
    "h3_uncompact_cells" -> ("array<bigint!>", false, true, "array<bigint>,int"),
    "h3_cover_res" -> ("int", false, true, "string,int"),
    "h3_point_in_polygon" -> ("boolean", false, true, "double,double,string"),
    "h3_cells_to_directed_edge" -> ("bigint", true, true, "bigint,bigint"),
    "h3_get_directed_edge_origin" -> ("bigint", true, true, "bigint"),
    "h3_get_directed_edge_destination" -> ("bigint", true, true, "bigint"),
    "h3_directed_edge_reverse" -> ("bigint", true, true, "bigint"),
    "h3_is_valid_directed_edge" -> ("boolean", false, true, "bigint"),
    "h3_directed_edge_to_boundary" -> ("array<struct<lat:double!,lng:double!>!>", false, true, "bigint"),
    "h3_directed_edge_to_cells" -> ("array<bigint!>", false, true, "bigint"),
    "h3_edge_length_rads" -> ("double", false, true, "bigint"),
    "h3_edge_length_km" -> ("double", false, true, "bigint"),
    "h3_edge_length_m" -> ("double", false, true, "bigint"),
    "h3_cell_to_vertex" -> ("bigint", true, true, "bigint,int"),
    "h3_vertex_to_latlng" -> ("struct<lat:double!,lng:double!>", false, true, "bigint"),
    "h3_get_vertex_owner" -> ("bigint", true, true, "bigint"),
    "h3_is_valid_vertex" -> ("boolean", false, true, "bigint"),
    "h3_is_valid_index" -> ("boolean", false, true, "bigint"),
    "h3_cell_area_m2" -> ("double", false, true, "bigint"),
    "h3_get_index_digit" -> ("int", true, true, "bigint,int"),
    "h3_get_num_cells" -> ("bigint", false, true, "int"),
    "h3_get_hexagon_area_avg_km2" -> ("double", false, true, "int"),
    "h3_get_hexagon_edge_length_avg_km" -> ("double", false, true, "int"),
    "h3_is_res_class_iii" -> ("boolean", false, true, "int"),
    "h3_max_grid_disk_size" -> ("bigint", false, true, "int"),
    "h3_max_grid_ring_size" -> ("bigint", false, true, "int"),
    "h3_pentagon_count" -> ("bigint", false, true, "int"),
    "h3_grid_path_cells_size" -> ("bigint", true, true, "bigint,bigint"),
    "h3_uncompact_size" -> ("bigint", false, true, "array<bigint>,int"),
    "h3_cell_to_local_ij" -> ("struct<i:int!,j:int!>", true, true, "bigint,bigint"),
    "h3_cell_to_local_ij_anchored" -> ("struct<anchor:bigint!,i:int!,j:int!>", true, true, "bigint,bigint"),
    "h3_local_ij_to_cell" -> ("bigint", true, true, "bigint,int,int"),
    "h3_get_icosahedron_faces" -> ("array<int!>", false, true, "bigint"),
    "h3_max_face_count" -> ("int", false, true, "bigint"),
    "h3_cells_to_multi_polygon" -> ("string", false, true, "array<bigint>"),
    "h3_dissolve_edges" -> ("string", false, true, "array<bigint>"),
    "h3_get_hexagon_area_avg_m2" -> ("double", false, true, "int"),
    "h3_get_hexagon_edge_length_avg_m" -> ("double", false, true, "int"),
    "minhash" -> ("array<bigint!>", false, true, "string,int,int"),
    "minhash_band_hashes" -> ("array<bigint!>", false, true, "string,int,int,int"),
    "simhash" -> ("bigint", false, true, "string"),
    "doc_fingerprint" -> ("bigint", false, true, "string"),
    "ngram_jaccard" -> ("double", false, true, "string,string,int"),
    "shingle_fps" -> ("array<bigint!>", false, true, "string,int"),
    "shingle_fps_pos" -> ("array<bigint!>", false, true, "string,int"),
    "word_count" -> ("bigint", false, true, "string"),
    "ngram_overlap" -> ("struct<n_inter:int!,n_union:int!>", false, true, "string,string,int"),
    "text_repetition" -> ("struct<n_lines:int!,n_words:int!,dup_line_frac:double!,dup_char_frac:double!,top_word_frac:double!,top_bigram_frac:double!>", false, true, "string"),
    "hamming64" -> ("int", false, true, "bigint,bigint"),
    "cosine_similarity" -> ("double", false, true, "array<float!>,array<float!>"),
    "hyperplane_lsh" -> ("bigint", false, true, "array<float!>,int,bigint"),
    "lm_gram_fps" -> ("array<bigint!>", false, true, "string"),
    "split_word_count" -> ("bigint", false, true, "string"),
    "word_count_pairs" -> ("array<struct<word:string!,cnt:bigint!>!>", false, true, "string"),
    "text_quality_stats" -> ("struct<n_chars:bigint!,n_words:bigint!,n_stop:bigint!,n_digit:bigint!,n_punct:bigint!>", false, true, "string"),
    "line_fps" -> ("array<bigint!>", false, true, "string,bigint"))

  private def sig(dt: DataType): String = dt match {
    case ArrayType(e, cn) => s"array<${sig(e)}${if (cn) "" else "!"}>"
    case StructType(fs) =>
      fs.map(f => s"${f.name}:${sig(f.dataType)}${if (f.nullable) "" else "!"}")
        .mkString("struct<", ",", ">")
    case o => o.simpleString
  }

  /** Input type -> (Catalyst type, column prefix in the fixed rows). */
  private val inputs: Map[String, (DataType, String)] = Map(
    "bigint" -> (LongType, "l"), "int" -> (IntegerType, "i"), "double" -> (DoubleType, "d"),
    "string" -> (StringType, "s"), "array<bigint>" -> (ArrayType(LongType), "al"),
    "array<float!>" -> (ArrayType(FloatType, containsNull = false), "af"))

  private def argTypes(name: String): Seq[String] = parentTypes(name)._4.split(",").toSeq

  test("no SQL function name is registered twice") {
    val names = all.map(_._1)
    assert(names.diff(names.distinct).isEmpty)
  }

  test("every kernel call keeps the result type and nullability of its hand-written expression") {
    assert(parentTypes.keySet.subsetOf(all.map(_._1).toSet))
    for ((name, (dataType, onValues, onNullable, _)) <- parentTypes) {
      def build(nullable: Boolean) = all.find(_._1 == name).get._2(
        argTypes(name).zipWithIndex.map { case (t, i) =>
          AttributeReference(s"a$i", inputs(t)._1, nullable)()
        })
      val (v, n) = (build(nullable = false), build(nullable = true))
      assert(v.isInstanceOf[KernelCall], name)
      assert((sig(v.dataType), v.nullable, n.nullable) == (dataType, onValues, onNullable), name)
    }
  }

  test("a wrong argument count fails naming the function") {
    val e = intercept[IllegalArgumentException](spark.sql("SELECT h3_cell_to_parent(1)").collect())
    assert(e.getMessage.contains("h3_cell_to_parent") && e.getMessage.contains("2 argument"))
  }

  private val cell = H3.latLngToCell(48.8566, 2.3522, 9)
  private val neighbor = H3.gridRing(cell, 1).head
  private val cell10 = 0x8a194e699ab7fffL
  private val edge = 0x13a194e699ab7fffL
  private def box(lat: Double, lng: Double): String = {
    val (a, b, c, d) = (lng - 0.05, lat - 0.05, lng + 0.05, lat + 0.05)
    s"""{"type":"Polygon","coordinates":[[[$a,$b],[$c,$b],[$c,$d],[$a,$d],[$a,$b]]]}"""
  }

  /** Per column, one value per row: two valid rows, an invalid one and a
    * null one. Column `<prefix><i>` feeds argument i of its type. */
  private val columns: Seq[(String, DataType, Seq[Any])] = {
    def c(prefix: String, i: Int, vs: Any*) = {
      val t = inputs.values.find(_._2 == prefix).get._1
      (s"$prefix$i", t, vs :+ null)
    }
    Seq(
      c("l", 0, cell, edge, 0L),
      c("l", 1, neighbor, cell10, -1L),
      c("l", 2, 3L, cell10, Long.MaxValue),
      c("i", 0, 5, 9, -1),
      c("i", 1, 7, 3, 15),
      c("i", 2, 2, 8, 1),
      c("i", 3, 1, 4, 2),
      c("d", 0, 48.8566, -33.9, Double.NaN),
      c("d", 1, 2.3522, 151.2, Double.PositiveInfinity),
      c("d", 2, 40.7, 0.0, 91.0),
      c("d", 3, -74.0, 0.0, 1e300),
      c("s", 0, "the cat sat on the mat\nthe cat sat\n\nhello  world", "8a194e699ab7fff",
        box(48.8566, 2.3522)),
      c("s", 1, "the cat sat on a mat\nhello world", "", "x"),
      c("s", 2, box(48.8566, 2.3522), box(-33.9, 151.2), "not json"),
      c("al", 0, H3.cellToChildren(cell, 10).toSeq, Edges.originToDirectedEdges(cell).toSeq,
        Seq.empty[Long]),
      c("af", 0, Seq(1f, 2f, 3f), Seq(0f, 0f, 0f), Seq.empty[Float]),
      c("af", 1, Seq(3f, 2f, 1f), Seq(1f, 1f, 1f), Seq(1f)))
  }

  private def fixedRows(s: SparkSession): DataFrame = {
    val schema = StructType(StructField("row", IntegerType, nullable = false) +:
      columns.map { case (n, t, _) => StructField(n, t, nullable = true) })
    val rows = (0 until 4).map(r => Row.fromSeq(r +: columns.map(_._3(r))))
    // An RDD, not a local relation: the optimizer evaluates projections
    // over local rows itself, without generated code.
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
  }

  /** Every kernel call on every fixed row, as strings: name -> one value
    * per row. */
  private def results(df: DataFrame): Map[String, Seq[String]] = {
    val names = parentTypes.keys.toSeq.sorted
    val calls = names.map(n => argTypes(n).zipWithIndex
      .map { case (t, i) => inputs(t)._2 + i }.mkString(s"$n(", ", ", ")"))
    val rows = df.selectExpr("row" +: calls: _*).collect().sortBy(_.getInt(0))
    names.zipWithIndex.map { case (n, i) => n -> rows.map(r => String.valueOf(r.get(i + 1))).toSeq }.toMap
  }

  test("every kernel call gives the same results with and without generated code") {
    val conf = spark.conf
    def withConf[T](kvs: (String, String)*)(f: => T): T = {
      val before = kvs.map { case (k, _) => k -> conf.getOption(k) }
      kvs.foreach { case (k, v) => conf.set(k, v) }
      try f finally before.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
    val df = fixedRows(spark)
    val generated = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false")(results(df))
    val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")(results(df))
    val differ = generated.keys.toSeq.sorted.filter(n => generated(n) != interpreted(n))
      .map(n => s"$n: ${generated(n)} vs ${interpreted(n)}")
    assert(differ.isEmpty, differ.mkString("\n"))
    // The rows reach both the kernels' values and their null rules.
    def orNull(v: Long) = if (v == 0L) "null" else v.toString
    assert(generated("h3_cell_to_parent") == Seq((cell, 7), (edge, 3), (0L, 15))
      .map { case (c, r) => orNull(H3.cellToParent(c, r)) } :+ "null")
    assert(generated("h3_from_string") == Seq("null", cell10.toString, "null", "null"))
    assert(generated("h3_grid_distance").head == "1")
    assert(generated("h3_cell_to_local_ij").map(_ == "null") ==
      Seq((cell, neighbor), (edge, cell10), (0L, -1L))
        .map { case (a, b) => Edges.cellToLocalIj(a, b) == Long.MinValue } :+ true)
  }
}
