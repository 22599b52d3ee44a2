package graft.api

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dynamic attribute-projection façade: `dyn.foo` ≡ bag attrgetter
  * (core.py:62-69), lowered to Catalyst column projections. */
class DynDatasetSpec extends SparkSpec {
  import graft.TestSession.spark.implicits._

  private def df = Seq(("ada", 36, Seq(1, 2)), ("grace", 45, Seq(3, 4)))
    .toDF("name", "age", "xs")

  test("selectDynamic projects a column: dyn.name") {
    val d = DynDataset(df)
    assert(d.name.compute().toSet == Set("ada", "grace"))
    assert(d.age.compute().toSet == Set(36, 45))
  }

  test("apply(k) is item projection: dyn(\"age\"), nested dyn.xs(0)") {
    val d = DynDataset(df)
    assert(d("age").compute().toSet == Set(36, 45))
    assert(d.xs(0).compute().toSet == Set(1, 3))
  }

  test("elementwise operators on the focused column (35-dunder table)") {
    val d = DynDataset(df)
    assert(d.age.mapCol(_ * 2).compute().toSet == Set(72, 90))
    assert(d.age.mapCol(_ > 40).compute().toSet == Set(false, true))
    // direct operator sugar, incl. DynDataset rhs
    assert((d.age + 1).compute().toSet == Set(37, 46))
    assert((d.age % 2).compute().toSet == Set(0, 1))
    assert((d.age > 40).compute().toSet == Set(false, true))
    assert((d.age === d.age).compute().toSet == Set(true))
    assert((-d.age).compute().toSet == Set(-36, -45))
    assert((!(d.age > 40)).compute().toSet == Set(true, false))
  }

  test("struct field chaining") {
    val nested = df.select(struct(col("name"), col("age")).as("person"))
    val d = DynDataset(nested)
    assert(d.person.name.compute().toSet == Set("ada", "grace"))
  }

  // —— fromAny: truly heterogeneous (schema-less) ingest, core.py:43,57 ——

  case class Person(name: String, age: Int)
  case class Tagged(name: String, tags: Seq[String])

  test("fromAny ingests mixed case-class/Map/primitive items into a union variant-struct") {
    val d = DynDataset.fromAny(spark, Seq(
      Person("ada", 36),
      Map("name" -> "grace", "score" -> 1.5),
      42,
      Person("edsger", 72)))
    // union schema: every observed field, null-padded
    assert(d.df.columns.toSet == Set("name", "age", "score", "value"))
    // attr projection works across the mixed collection (nulls where absent)
    assert(d.name.compute().toSet == Set("ada", "grace", "edsger", null))
    assert(d.age.compute().toSet == Set(36L, null, 72L))
    // bare primitives land in `value`
    assert(d("value").compute().toSet == Set(42L, null))
    // counts/frequencies over a projected attr — the reference bag flow
    val freq = d.toDF.groupBy("name").count().collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    assert(freq(null) == 1L && freq("ada") == 1L)
  }

  test("fromAny widens conflicting field types and recurses into nested values") {
    // age observed as Int and as Double → double; tags arrays unify
    val d = DynDataset.fromAny(spark, Seq(
      Map("age" -> 1, "meta" -> Map("k" -> "v")),
      Map("age" -> 2.5, "meta" -> Map("n" -> 7L)),
      Tagged("x", Seq("a", "b"))))
    val schema = d.df.schema
    assert(schema("age").dataType.typeName == "double")
    // nested maps union into one struct with both keys
    val meta = schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSet == Set("k", "n"))
    assert(d.meta.n.compute().toSet == Set(null, 7L))
    assert(d.age.compute().toSet == Set(1.0, 2.5, null))
    assert(d.tags(0).compute().toSet == Set(null, "a"))
    // irreconcilable types (struct vs primitive) widen to string
    val e = DynDataset.fromAny(spark, Seq(Map("x" -> Map("a" -> 1)), Map("x" -> 9)))
    assert(e.df.schema("x").dataType.typeName == "string")
    assert(e.x.compute().toSet.contains("9"))
  }

  test("fromAny: operator dunders work over the inferred collection") {
    val d = DynDataset.fromAny(spark, Seq(Person("ada", 36), Map("age" -> 5)))
    assert((d.age + 1).compute().toSet == Set(37L, 6L))
  }

  test("fromAny builds an encoded-rows leaf, not a LocalRelation") {
    val d = DynDataset.fromAny(spark, Seq(P("ada", 36), Map("name" -> "bob"), 7))
    val analyzed = d.df.queryExecution.analyzed
    assert(analyzed.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isEmpty, analyzed.toString)
    assert(d.df.count() == 3)
    assert(d.name.compute().toSet == Set("ada", "bob", null))
  }
}
