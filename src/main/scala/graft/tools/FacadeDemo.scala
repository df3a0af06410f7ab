package graft.tools

import graft.api._
import graft.api.types._

/** Reference-README-style demo (README.md:63-115) through the public facade:
  * the exact flow a reference user would run after switching imports. */
object FacadeDemo {
  case class Person(name: String, gender: String, age: Int)

  def main(args: Array[String]): Unit = {
    val context = Context.local()

    // README flagship slice
    val df = context.range(10)
      .select('id as 'key, (rand(42) * 100) cast IntType as 'value)
      .where('value % 2 === 0)
      .orderBy('value.desc)
    df.explain(true)
    df.show()

    // SQL twin + catalog
    df.asTable('t)
    context.sql("SELECT count(*) AS n, max(value) AS mx FROM t").show()

    // aggregation with HAVING through the Grouped builder
    context.lift(
        Person("Alice", "f", 20), Person("Bob", "m", 21),
        Person("Chris", "m", 22), Person("Dana", "f", 20))
      .groupBy('gender).having(count('name) > 1).orderBy('gender.asc)
      .agg(count('name) as 'n, avg('age) as 'avg_age)
      .show()
    context.spark.stop()
  }
}
