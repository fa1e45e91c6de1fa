package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deterministic roster / mail-CSV stand-ins synthesized from the driver's
  * read-only TPC-H-ish parquet (FIXTURES.md §5). Each synthesis exists
  * twice — as a DataFrame transform (the plan under test) and as a DuckDB
  * CTE (the oracle's input) — and the two MUST stay in lock-step; the
  * ScalaTest + local-duckdb harness enforce it.
  *
  * Coverage goals baked into the fixture (FIXTURES.md §1):
  * accented names, multi-token nombres, single-surname rows, multi-email
  * cells, a no-`@` cell, and NULL rut/nombres rows that P2 must drop.
  */
object Fixtures {

  def customer(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "customer")

  // ---------------------------------------------------------------- roster

  /** Raw-roster stand-in: rut / nombres / apellidos / email from customer. */
  def roster(spark: SparkSession, dir: String): DataFrame =
    rosterProjection(customer(spark, dir))

  /** The roster with a deterministic RESUBMISSION slice appended (every
    * `c_custkey % 97 = 5` row occurs twice) — the duplicate-row corpus
    * the pre-upload validation query (`roster_validate`) exists for.
    * The clean [[roster]] has unique non-null ruts by construction, so
    * without this slice the duplicate-rut class would never fire in an
    * oracle run.
    */
  def rosterDirty(spark: SparkSession, dir: String): DataFrame =
    roster(spark, dir).unionByName(
      rosterProjection(customer(spark, dir).filter(col("c_custkey") % 97 === 5)))

  private def rosterProjection(cust: DataFrame): DataFrame = {
    val key  = col("c_custkey")
    val base = concat(lower(translate(col("c_name"), "#", "")), lit("@example.org"))
    cust.select(
      when(key % 11 === 0, lit(null)).otherwise(
        concat(key.cast("string"), lit("-"), (key % 10).cast("string"))).as("rut"),
      when(key % 11 === 3, lit(null)).otherwise(
        when(key % 4 === 0, "José Luis")
          .when(key % 4 === 1, "María José")
          .when(key % 4 === 2, "Ángel")
          .otherwise("Nicolás")).as("nombres"),
      when(key % 3 === 0, "Pérez González")
        .when(key % 3 === 1, "Muñoz")
        .otherwise("Núñez Ibáñez").as("apellidos"),
      when(key % 7 === 0, lit("sin-correo"))
        .when(key % 5 === 0, concat(lit("contacto@ejemplo.cl; "), base))
        .otherwise(base).as("email"))
  }

  /** DuckDB CTE body mirroring [[roster]] exactly. */
  val rosterSql: String = """
    SELECT
      CASE WHEN c_custkey % 11 = 0 THEN NULL
           ELSE cast(c_custkey AS STRING) || '-' || cast(c_custkey % 10 AS STRING) END AS rut,
      CASE WHEN c_custkey % 11 = 3 THEN NULL
           WHEN c_custkey % 4 = 0 THEN 'José Luis'
           WHEN c_custkey % 4 = 1 THEN 'María José'
           WHEN c_custkey % 4 = 2 THEN 'Ángel'
           ELSE 'Nicolás' END AS nombres,
      CASE WHEN c_custkey % 3 = 0 THEN 'Pérez González'
           WHEN c_custkey % 3 = 1 THEN 'Muñoz'
           ELSE 'Núñez Ibáñez' END AS apellidos,
      CASE WHEN c_custkey % 7 = 0 THEN 'sin-correo'
           WHEN c_custkey % 5 = 0 THEN 'contacto@ejemplo.cl; ' || lower(translate(c_name, '#', '')) || '@example.org'
           ELSE lower(translate(c_name, '#', '')) || '@example.org' END AS email
    FROM customer"""

  /** DuckDB CTE body mirroring [[rosterDirty]] exactly. */
  val rosterDirtySql: String =
    rosterSql + "\n    UNION ALL\n" +
      rosterSql.replace("FROM customer", "FROM customer WHERE c_custkey % 97 = 5")

  // ------------------------------------------------- old-dialect mail CSV

  /** Old-dialect mail source: email/nombre/usuario/contrasena with padding
    * and empty-email rows (dropped by P5).
    */
  def mailOld(spark: SparkSession, dir: String): DataFrame = {
    val key  = col("c_custkey")
    val base = concat(lower(translate(col("c_name"), "#", "")), lit("@example.org"))
    customer(spark, dir).select(
      when(key % 13 === 0, lit("  ")).otherwise(base).as("email"),
      concat(lit("  Cliente "), key.cast("string"), lit("  ")).as("nombre"),
      concat(lit("user"), key.cast("string")).as("usuario"),
      concat(lit(" pw-"), key.cast("string"), lit(" ")).as("contrasena"))
  }

  val mailOldSql: String = """
    SELECT
      CASE WHEN c_custkey % 13 = 0 THEN '  '
           ELSE lower(translate(c_name, '#', '')) || '@example.org' END AS email,
      '  Cliente ' || cast(c_custkey AS STRING) || '  ' AS nombre,
      'user' || cast(c_custkey AS STRING) AS usuario,
      ' pw-' || cast(c_custkey AS STRING) || ' ' AS contrasena
    FROM customer"""

  // -------------------------------------------- fallback-dialect mail CSV

  /** Fallback-dialect source: only email (+ a sometimes-empty username) —
    * exercises the local-part fallbacks of `app.py:303-306`.
    */
  def mailFallback(spark: SparkSession, dir: String): DataFrame = {
    val key  = col("c_custkey")
    val base = concat(lower(translate(col("c_name"), "#", "")), lit("@example.org"))
    customer(spark, dir).select(
      when(key % 13 === 0, lit("")).otherwise(base).as("email"),
      when(key % 2 === 0, lit("")).otherwise(concat(lit("u"), key.cast("string"))).as("username"))
  }

  val mailFallbackSql: String = """
    SELECT
      CASE WHEN c_custkey % 13 = 0 THEN ''
           ELSE lower(translate(c_name, '#', '')) || '@example.org' END AS email,
      CASE WHEN c_custkey % 2 = 0 THEN ''
           ELSE 'u' || cast(c_custkey AS STRING) END AS username
    FROM customer"""
}
