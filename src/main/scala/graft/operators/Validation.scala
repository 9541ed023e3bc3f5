package graft.operators

import graft.sources.Generator
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** V1–V5 — validation operators: the consumer-side rule engine the
  * reference declares but never implemented (`validators.py` is a 0-byte
  * stub); semantics are the inverse of the corruption injector
  * (`corruptions.py:49-101`) plus the landing DDL's CHECK/FK/UNIQUE
  * surface (`02_create_tables.sql:54-58,68,80-82,89-90,103-108,113-114`).
  *
  * Every validator is a pure `DataFrame => Split` that tags each row with
  * its violated rule names and routes it to `valid` or `rejects` — the
  * dual-sink split the ingest pipeline (graft.streaming) lands. The rule
  * evaluation is one codegen'd projection (array of conditional
  * literals), so validation adds no shuffle; only the uniqueness and FK
  * rules (V2 dedup, V5) shuffle, on their natural keys.
  */
object Validation {

  /** Valid rows (violations column dropped) + rejected rows (with a
    * `violations: array<string>` audit column). */
  final case class Split(valid: DataFrame, rejects: DataFrame)

  /** Evaluate rules, split on any violation. */
  def split(df: DataFrame, rules: Seq[(String, Column)]): Split =
    route(mark(df, rules))

  /** Tag every row with the names of the rules it violates
    * (`violations: array<string>`, empty when the row is valid). */
  def mark(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    val marks = array(rules.map { case (name, bad) =>
      when(bad, lit(name)).otherwise(lit(null).cast("string"))
    }: _*)
    df.withColumn("violations", filter(marks, x => x.isNotNull))
  }

  /** Split rows already tagged by [[mark]] on any violation. */
  def route(marked: DataFrame): Split =
    Split(
      marked.filter(size(col("violations")) === 0).drop("violations"),
      marked.filter(size(col("violations")) > 0))

  /** V1 — product rules (`corruptions.py:52-61`; CHECKs `02:54-58`). */
  val productRules: Seq[(String, Column)] = Seq(
    "name_missing"     -> (col("name").isNull || trim(col("name")) === ""),
    "category_missing" -> col("category").isNull,
    "price_invalid"    -> (col("price").isNull || col("price") < 0),
    "stock_negative"   -> (col("stock_quantity").isNull || col("stock_quantity") < 0))

  /** V2 — customer rules (`corruptions.py:67-73`; UNIQUE email `02:68`).
    * Field rules here; duplicate-email capture via [[dedupWithRejects]]. */
  val customerRules: Seq[(String, Column)] = Seq(
    "name_missing"  -> col("name").isNull,
    "email_missing" -> col("email").isNull,
    "email_invalid" -> (col("email").isNotNull &&
      !col("email").rlike("^[^@]+@[^@]+\\.[^@]+$")))

  /** V3 — order rules (`corruptions.py:79-91`; CHECKs `02:80-82`). */
  val orderRules: Seq[(String, Column)] = Seq(
    "customer_missing" -> col("customer_id").isNull,
    "items_empty"      -> (col("items").isNull || size(col("items")) === 0),
    "status_invalid"   -> (col("status").isNull ||
      !col("status").isin(Generator.OrderStatuses: _*)),
    "total_negative"   -> (col("total").isNull || col("total") < 0))

  /** V4 — event rules (`corruptions.py:96-101`; CHECK `02:113-114`). */
  val eventRules: Seq[(String, Column)] = Seq(
    "customer_missing" -> col("customer_id").isNull,
    "type_invalid"     -> (col("event_type").isNull ||
      !col("event_type").isin(Generator.EventTypes: _*)))

  def validateProducts(df: DataFrame): Split  = split(df, productRules)
  def validateCustomers(df: DataFrame): Split = split(df, customerRules)
  def validateOrders(df: DataFrame): Split    = split(df, orderRules)
  def validateEvents(df: DataFrame): Split    = split(df, eventRules)

  /** V2b — uniqueness with reject capture (UNIQUE email `02:68`): keeps
    * the first row per key by the tiebreak ordering, rejects the rest
    * tagged `duplicate_<key>`. One shuffle on the key. */
  def dedupWithRejects(df: DataFrame, key: String, tiebreak: Column): Split = {
    val w = Window.partitionBy(key).orderBy(tiebreak)
    val ranked = df.withColumn("_rn", row_number().over(w))
    Split(
      ranked.filter(col("_rn") === 1).drop("_rn"),
      ranked.filter(col("_rn") > 1).drop("_rn")
        .withColumn("violations", array(lit(s"duplicate_$key"))))
  }

  /** V5a — FK existence (FKs `02:89-90,103-106,120-121`): children whose
    * key has a parent pass; orphans reject. left_semi/left_anti — both
    * shuffle (or broadcast) on the key only. */
  def fkSplit(child: DataFrame, parent: DataFrame, childKey: String,
      parentKey: String): Split = {
    val cond = child(childKey) === parent(parentKey)
    Split(
      child.join(parent, cond, "left_semi"),
      child.join(parent, cond, "left_anti")
        .withColumn("violations", array(lit(s"fk_missing_$childKey"))))
  }

  /** V5b — recomputed-total consistency (`compute_total`,
    * `schemas.py:79-82`): |total − Σ qty·price| < 0.01 over the nested
    * items array; pure per-row HOF, no shuffle. */
  def totalConsistent: Column =
    abs(col("total") - aggregate(col("items"), lit(0.0),
      (acc, x) => acc + x.getField("quantity") * x.getField("unit_price"))) < 0.01
}
