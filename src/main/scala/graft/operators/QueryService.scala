package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's client-facing query surface over materialized tables
  * (reference: reactive_db/src/networking/network_types.rs:58-66, dispatch
  * db_thread.rs:52-113), as Spark plans: each operation is a filter (and a
  * sort) over the table's frame, run when the caller collects it. The
  * façade answers these reads from a resident table's driver-side index
  * instead, [[Resident]], the table's only store, and comes here only when
  * the table is above the resident cap (a Spark job over its checkpoint),
  * the column is not indexable, or the key is of another type than the
  * column (over a scan of the table's rows, so the coercion and ANSI
  * errors are Spark's). Both answer with the same rows.
  *
  * Quirk preserved for API fidelity: `greaterThan` is INCLUSIVE (>=), like
  * the reference's btree walk (reference: btree.rs:208-213). Range results
  * come back in ascending key order like the leaf-chain walk.
  */
final class QueryService(resolve: String => DataFrame) {

  def this(graph: PipelineGraph) = this(graph.table _)

  private def column(table: DataFrame, name: String): Column = {
    // match the reference's hard error on unknown/unindexed columns
    // (reference: storage_manager_table.rs:124-128)
    if (!table.columns.contains(name))
      throw new NoSuchElementException(s"No such column $name exists")
    col(name)
  }

  /** First entry with column == key (reference arbitrary-pick ≈ limit 1). */
  def findOne(table: String, col: String, key: Any): DataFrame = {
    val df = resolve(table)
    df.filter(column(df, col) === lit(key)).limit(1)
  }

  /** All entries with column == key. */
  def getAll(table: String, col: String, key: Any): DataFrame = {
    val df = resolve(table)
    df.filter(column(df, col) === lit(key))
  }

  /** Strict less-than, ascending key order (reference: btree.rs:225-259). */
  def lessThan(table: String, col: String, key: Any): DataFrame = {
    val df = resolve(table)
    df.filter(column(df, col) < lit(key)).orderBy(column(df, col).asc)
  }

  /** INCLUSIVE >= despite the name (reference: btree.rs:208-213). */
  def greaterThan(table: String, col: String, key: Any): DataFrame = {
    val df = resolve(table)
    df.filter(column(df, col) >= lit(key)).orderBy(column(df, col).asc)
  }
}
