package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.frame.ModeledFrame
import graft.relation.Relation

/** `validate`: a lineitem-shaped batch is cast, default-filled and derived
  * against a 21-field model, validated with `Validator.findErrors`, then
  * rolled up through the `Relation` layer. The model covers every
  * constraint kind; one batch in four carries planted violations of every
  * kind in seeded numbers, and the check demands exactly those.
  */
final class ValidateWorkload(ctx: Ctx) extends Workload {
  import ValidateWorkload._
  private val spark = ctx.spark
  private var root = ""
  private var supplier: DataFrame = _

  def setup(root: String): Unit = {
    this.root = root
    suppliers(ctx.seed).write.parquet(s"$root/supplier")
    supplier = spark.read.parquet(s"$root/supplier")
  }

  /** A small batch with every violation kind planted. */
  def warmUp(): Seq[String] =
    run(Batch(-1, 3000, Kinds.map(_ -> 3).toMap), new Steps).failures

  override def roundOps: Int = Sizes.size

  def op(i: Int, steps: Steps): Outcome = run(batchPlan(ctx.seed, i), steps)

  private def run(b: Batch, steps: Steps): Outcome = {
    val path = s"$root/batch-${b.index}"
    generate(ctx.seed, b).write.parquet(path)
    val raw = spark.read.parquet(path)
    val inputHash = contentHash(raw)
    val tr = ctx.tr
    val (derived, errors) = steps("ingest") {
      val mf = ModeledFrame(raw, model)
      val cast = tr.call("frame.modeled_frame.cast")(mf.cast())
      val filled = tr.call("frame.modeled_frame.fill_null")(cast.fillNullDefaults())
      val derived = tr.call("frame.modeled_frame.derive")(filled.derive())
      (derived, tr.call("core.validator.find_errors")(Validator.findErrors(derived.df, model)))
    }
    val rolled = steps("query") {
      tr.call("relation.rollup") {
        Relation(derived.df)
          .filter("l_shipdate <= date'1998-12-01'")
          .join(Relation(supplier), "l_suppkey = s_suppkey")
          .caseColumn("l_returnflag", "flag_label",
            Seq("A" -> "accepted", "N" -> "none", "R" -> "returned"), "unknown")
          .aggregate(
            Seq("count(*) AS n", "sum(l_quantity) AS qty", "sum(l_net) AS net",
              "avg(l_discount_bp) AS disc"),
            Seq("flag_label", "l_linestatus", "s_region"))
          .df.collect()
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val expected = expectedErrors(b)
    val failures = Seq.newBuilder[String]
    if (errors.toSet != expected.toSet || errors.size != expected.size)
      failures += s"batch ${b.index}: findErrors returned ${errors.mkString("; ")}; " +
        s"expected ${expected.mkString("; ")}"
    val rolledRows = rolled.map(_.getAs[Long]("n")).sum
    if (rolledRows != b.rows)
      failures += s"batch ${b.index}: roll-up counted $rolledRows rows of ${b.rows}"
    val output = Gen.sha256((errors.map(_.toString) ++ rolled.map(_.toString).sorted).iterator)
    Outcome(b.rows, failures.result(), inputHash, output)
  }
}

object ValidateWorkload {

  /** One batch: its size and, when it is dirty, the planted violation count
    * of each kind (0 = not planted).
    */
  final case class Batch(index: Int, rows: Long, plants: Map[String, Int] = Map.empty) {
    def count(kind: String): Int = plants.getOrElse(kind, 0)
  }

  val Kinds: Seq[String] = Seq(
    "null", "inner_null", "enum", "bounds", "multiple_of", "regex", "length",
    "row", "aggregate", "unique")

  /** Row counts of the batches of one round: 10k to 150k, the second one
    * dirty. Sizes carry a seeded ±5% jitter.
    */
  val Sizes: IndexedSeq[Long] = IndexedSeq(22000L, 10000L, 150000L, 47000L)

  def batchPlan(seed: Long, i: Int): Batch = {
    val r = Gen.rng(seed, 3, i)
    val base = Sizes(i % Sizes.size)
    val rows = base + (base * (r.nextDouble() * 0.1 - 0.05)).toLong
    if (i % 4 != 1) Batch(i, rows)
    else Batch(i, rows, dirtyPlants(r))
  }

  /** A dirty batch plants every kind, 1 to 40 rows each: every seed runs
    * the same error paths.
    */
  private def dirtyPlants(r: java.util.SplittableRandom): Map[String, Int] =
    Kinds.map(_ -> (1 + r.nextInt(40))).toMap

  val ShipModes: Seq[String] = Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  val Instructs: Seq[String] = Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  val Words: Seq[String] = Seq("final", "deposits", "furiously", "ironic", "packages",
    "blithely", "regular", "accounts", "quickly", "express", "pending", "requests")

  /** The batch model: every constraint kind on its own field, so each
    * planted kind maps to exactly one reported error.
    */
  val model: Schema = Schema("lineitem_batch", Seq(
    FieldSpec("l_orderkey", LongType),
    FieldSpec("l_linenumber", IntegerType, bounds = Bounds(ge = Some(1), le = Some(7))),
    FieldSpec("l_partkey", LongType),
    FieldSpec("l_suppkey", LongType, bounds = Bounds(gt = Some(0))),
    FieldSpec("l_quantity", DoubleType, bounds = Bounds(ge = Some(1), le = Some(50))),
    FieldSpec("l_extendedprice", DoubleType, bounds = Bounds(ge = Some(0))),
    FieldSpec("l_discount_bp", IntegerType, bounds = Bounds(multipleOf = Some(25))),
    FieldSpec("l_tax_bp", IntegerType, default = Some(0)),
    FieldSpec.enum("l_returnflag", Seq("A", "N", "R")),
    FieldSpec.enum("l_linestatus", Seq("O", "F")),
    FieldSpec("l_shipdate", DateType),
    FieldSpec("l_commitdate", DateType),
    FieldSpec("l_receiptdate", DateType, constraints = Seq(col("_") >= col("l_shipdate"))),
    FieldSpec.enum("l_shipinstruct", Instructs),
    FieldSpec.enum("l_shipmode", ShipModes),
    FieldSpec("l_partsku", StringType, pattern = Some("^P-[0-9]{6}$")),
    FieldSpec("l_comment", StringType, minLength = Some(10), maxLength = Some(44)),
    FieldSpec("l_share", DoubleType, constraints = Seq(abs(sum(col("_")) - lit(1.0)) < lit(1e-6))),
    // the raw column's element type is nullable; listing it as valid keeps
    // `cast` from trying (and failing) to cast the array to non-null elements
    FieldSpec("l_tags", ArrayType(StringType, containsNull = false),
      validTypesOpt = Seq(ArrayType(StringType, containsNull = false),
        ArrayType(StringType, containsNull = true))),
    FieldSpec("l_order_line", StringType, unique = true, derivedFrom = Some(Right(
      concat_ws("-", col("l_orderkey").cast("string"), col("l_linenumber").cast("string"))))),
    FieldSpec("l_net", DoubleType, derivedFrom = Some(Right(
      col("l_extendedprice") * (lit(1.0) - col("l_discount_bp") / lit(10000.0)))))))

  /** Exactly the errors `findErrors` must report for `b`. */
  def expectedErrors(b: Batch): Seq[ErrorDetail] = {
    def plural(n: Long, w: String) = s"$n $w${if (n == 1) "" else "s"}"
    def bounds(f: String, n: Int) =
      ErrorDetail(f, s"${plural(n, "row")} with out of bound values.", ErrorTypes.RowValue)
    def custom(f: String, n: Long) =
      ErrorDetail(f, s"${plural(n, "row")} does not match custom constraints.", ErrorTypes.RowValue)
    Kinds.filter(b.count(_) > 0).map { k =>
      val n = b.count(k)
      k match {
        case "null" => ErrorDetail("l_partkey", plural(n, "missing value"), ErrorTypes.MissingValues)
        case "inner_null" =>
          ErrorDetail("l_tags", s"${plural(n, "missing value")} in list.", ErrorTypes.MissingValues)
        case "enum" =>
          val bad = if (n == 1) "{'BOAT'}" else "{'BOAT', 'ZEPPELIN'}"
          ErrorDetail("l_shipmode", s"Rows with invalid values: $bad.", ErrorTypes.RowValue)
        case "bounds" => bounds("l_quantity", n)
        case "multiple_of" => bounds("l_discount_bp", n)
        case "regex" => bounds("l_partsku", n)
        case "length" => bounds("l_comment", n)
        case "row" => custom("l_receiptdate", n)
        case "aggregate" => custom("l_share", b.rows)
        case "unique" =>
          ErrorDetail("l_order_line", s"${plural(2L * n, "row")} with duplicated values.",
            ErrorTypes.RowValue)
      }
    }
  }

  /** The supplier dimension the roll-up joins to. */
  def suppliers(seed: Long): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    val s = Gen.derive(seed, 10)
    spark.range(1, 1001, 1, 1).select(
      col("id").as("s_suppkey"),
      element_at(array((0 until 5).map(r => lit(s"REGION$r")): _*),
        (pmod(xxhash64(lit(s), col("id")), lit(5L)) + 1).cast("int")).as("s_region"))
  }

  /** The raw batch as it arrives: some columns in wider or string types
    * (so `cast` does work), tax with nulls (so `fillNullDefaults` does
    * work), and the planted violations of a dirty batch. A pure function of
    * `(seed, batch)`: values are hashes of the row id, never `rand()`.
    */
  def generate(seed: Long, b: Batch): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    val s = Gen.derive(seed, 4, b.index)
    val id = col("id")
    def h(k: Int): Column = xxhash64(lit(s), lit(k), id)
    def u(k: Int, m: Long): Column = pmod(h(k), lit(m))
    // a planted kind hits a contiguous block of its count's rows at a
    // seeded offset (blocks of different kinds may overlap: each kind is
    // checked on its own field)
    val r = Gen.rng(seed, 5, b.index)
    def planted(kind: String): (Column, Long) = {
      val n = b.count(kind)
      if (n == 0) (lit(false), 0L)
      else {
        val start = (r.nextDouble() * (b.rows - 8L * n)).toLong / 4 * 4
        kind match {
          // a duplicate pair is (orderkey, 1) twice: the rows whose line
          // number would be 2 (id % 4 == 1) take line number 1
          case "unique" =>
            (id >= start && id < start + 4L * n && pmod(id, lit(4L)) === 1, start)
          case _ => (id >= start && id < start + n, start)
        }
      }
    }
    val pNull = planted("null")._1; val pInner = planted("inner_null")._1
    val (pEnum, enumStart) = planted("enum"); val pBounds = planted("bounds")._1
    val pMult = planted("multiple_of")._1; val pRegex = planted("regex")._1
    val pLen = planted("length")._1; val pRow = planted("row")._1
    val pUnique = planted("unique")._1
    val aggregateBroken = b.count("aggregate") > 0
    val ship = date_add(lit(java.sql.Date.valueOf("1992-01-02")), u(7, 2400L).cast("int"))
    val word = (k: Int) => element_at(typedlit(Words), (u(k, Words.size.toLong) + 1).cast("int"))
    spark.range(0, b.rows, 1, 4).select(
      (lit(1000000000L) * (b.index + 10) + (id / 4).cast("long")).as("l_orderkey"),
      when(pUnique, lit(1L)).otherwise(pmod(id, lit(4L)) + 1).as("l_linenumber"),
      when(pNull, lit(null).cast("long")).otherwise(u(1, 200000L) + 1).as("l_partkey"),
      (u(2, 1000L) + 1).as("l_suppkey"),
      when(pBounds, (u(3, 25L) + 51).cast("string"))
        .otherwise((u(3, 50L) + 1).cast("double").cast("string")).as("l_quantity"),
      ((u(3, 50L) + 1) * (lit(900.0) + u(4, 100000L) / lit(100.0))).as("l_extendedprice"),
      (u(5, 41L) * 25 + when(pMult, lit(7L)).otherwise(lit(0L))).as("l_discount_bp"),
      when(u(6, 20L) === 0, lit(null).cast("int"))
        .otherwise((u(6, 9L) * 100).cast("int")).as("l_tax_bp"),
      element_at(typedlit(Seq("A", "N", "R")), (u(8, 3L) + 1).cast("int")).as("l_returnflag"),
      element_at(typedlit(Seq("O", "F")), (u(9, 2L) + 1).cast("int")).as("l_linestatus"),
      date_format(ship, "yyyy-MM-dd").as("l_shipdate"),
      date_add(ship, (u(10, 60L) - 30).cast("int")).as("l_commitdate"),
      when(pRow, date_sub(ship, 3)).otherwise(date_add(ship, (u(11, 30L) + 1).cast("int")))
        .as("l_receiptdate"),
      element_at(typedlit(Instructs), (u(12, Instructs.size.toLong) + 1).cast("int"))
        .as("l_shipinstruct"),
      when(pEnum, when(pmod(id - enumStart, lit(2L)) === 0, lit("BOAT")).otherwise(lit("ZEPPELIN")))
        .otherwise(element_at(typedlit(ShipModes), (u(13, ShipModes.size.toLong) + 1).cast("int")))
        .as("l_shipmode"),
      when(pRegex, concat(lit("P-12AB"), lpad(u(14, 100L).cast("string"), 2, "0")))
        .otherwise(concat(lit("P-"), lpad(u(14, 1000000L).cast("string"), 6, "0")))
        .as("l_partsku"),
      when(pLen, lit("short"))
        .otherwise(concat_ws(" ", word(15), word(16), word(17))).as("l_comment"),
      (lit(1.0) / lit(b.rows.toDouble) +
        (if (aggregateBroken) when(id === 0, lit(0.5)).otherwise(lit(0.0)) else lit(0.0)))
        .as("l_share"),
      when(pInner, array(word(18), lit(null).cast("string")))
        .otherwise(array(word(18), word(19))).as("l_tags"))
  }

  /** Order-independent content hash of a frame: row count and the sum of
    * per-row 64-bit hashes, as exact decimals.
    */
  def contentHash(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }
}
