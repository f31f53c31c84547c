package graft.queries

import org.apache.spark.sql.functions._

/** One catalog entry: a scaladoc, a `//` comment and one oracle block.
  *
  * Five code lines: the package, the import, the object, the `val q`
  * line and the closing brace.
  */
object Fixture {
  // the Spark side
  val q = QueryDef("q0_fixture", (s, d) => t(s, d, "orders"),
    Some("""
      SELECT *
      FROM orders"""))

}
