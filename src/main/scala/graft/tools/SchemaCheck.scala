package graft.tools

import graft.{Env, Tables}
import org.apache.spark.sql.types.{LongType, StructType}

/** Start-of-round testdata preflight: asserts the physical schema of
  * EVERY table against the accepted type sets, with a loud per-column
  * diff on mismatch — so a driver-side regeneration that silently
  * changes a physical type (the `events.ts` timestamp[us] drift that
  * broke 7 queries in the round-7 bench window) fails fast with a
  * named column instead of surfacing as downstream query errors.
  *
  * Acceptance is by Spark `simpleString` (nullability-insensitive).
  * Timestamp columns accept both LTZ and NTZ readings (the
  * inferTimestampNTZ flag decides which Spark reports); `events.ts`
  * additionally accepts bigint (the TIMESTAMP(NANOS) generation read
  * via nanosAsLong). Whatever the physical reading, the NORMALIZED
  * view `Env.events` must present ts as bigint nanoseconds — checked
  * separately.
  *
  * Usage: runMain graft.tools.SchemaCheck [sfDir ...]
  * (defaults to all three driver testdata dirs; exits nonzero on any
  * drift).
  */
object SchemaCheck {

  private val ts = Set("timestamp", "timestamp_ntz")

  /** table -> ordered (column, accepted simpleString types). */
  val expected: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq(
      "r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Seq(
      "n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Seq(
      "c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq(
      "s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Seq(
      "p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Seq(
      "o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> ts, "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq(
      "l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> ts),
    "events" -> Seq(
      "event_id" -> Set("bigint"), "ts" -> (ts + "bigint"),
      "user_id" -> Set("bigint"), "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq(
      "doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Seq(
      "vec_id" -> Set("bigint"), "embedding" -> Set("array<float>"),
      "label" -> Set("int")))

  /** Per-column drift messages for one table's observed schema. */
  def diff(table: String, schema: StructType): Seq[String] = {
    val exp = expected(table)
    val names = schema.fieldNames.toSet
    val missing = exp.collect { case (c, accept) if !names.contains(c) =>
      s"$table.$c: MISSING (accepted ${accept.mkString("|")})" }
    val extra = schema.fieldNames.toSeq
      .filterNot(exp.map(_._1).toSet)
      .map(c => s"$table.$c: UNEXPECTED column" +
        s" (${schema(c).dataType.simpleString})")
    val wrong = exp.collect {
      case (c, accept) if names.contains(c) &&
          !accept.contains(schema(c).dataType.simpleString) =>
        s"$table.$c: ${schema(c).dataType.simpleString}," +
          s" accepted ${accept.mkString("|")}" }
    missing ++ extra ++ wrong
  }

  /** All drift messages for one testdata dir (raw schemas + the
    * normalized Env.events invariant). Empty = clean. */
  def check(env: Env): Seq[String] = {
    val raw = Tables.names.flatMap(t => diff(t, env.table(t).schema))
    val norm =
      if (env.events.schema("ts").dataType != LongType)
        Seq("events.ts (via Env.events): " +
          env.events.schema("ts").dataType.simpleString +
          ", must normalize to bigint ns — Env loader broken")
      else Nil
    raw ++ norm
  }

  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = graft.Tuning.session()
    var bad = false
    dirs.foreach { d =>
      val drift = check(Env(spark, d))
      if (drift.isEmpty)
        println(s"[schema] $d: ok (${Tables.names.size} tables)")
      else { bad = true; drift.foreach(x => println(s"[schema] $d: DRIFT $x")) }
    }
    spark.stop()
    if (bad) sys.error("testdata schema drift detected — update the Env " +
      "normalization (and SchemaCheck.expected if intentional) before " +
      "trusting bench/verify results")
  }
}
