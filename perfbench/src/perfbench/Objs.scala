package perfbench

import graft.api.{DelayedObjs, DynDataset, ObjDataset, Rec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}
import scala.concurrent.ExecutionContext

final case class Obj(id: Long, user: Int, kind: String, cents: Long, value: Double, tags: Seq[String])
final case class User(uid: Int, tier: String)

/** The `objs` workload: objects generated from the seed, run through the
  * paper's surface — ObjDataset, DynDataset, Rec (eval and lower) and
  * DelayedObjs. Each operation calls one part of `graft.api` and has a
  * plain-collections reference that gives its expected result. */
object Objs {
  val Kinds = Vector("alpha", "beta", "gamma", "delta", "epsilon")
  val Users = 1000

  def generate(seed: Long, n: Int): Vector[Obj] = {
    val r = new scala.util.Random(seed)
    Vector.tabulate(n) { i =>
      val cents = r.nextInt(100000).toLong
      Obj(i.toLong, r.nextInt(Users), Kinds(r.nextInt(Kinds.size)), cents, cents / 100.0,
        Seq.fill(r.nextInt(4))(Kinds(r.nextInt(Kinds.size)).take(3)))
    }
  }

  final class Ctx(val spark: SparkSession, val items: Vector[Obj], val cpus: Int,
                  val mark: (String, Long, Long) => Unit) {
    import spark.implicits._
    val base: ObjDataset[Obj] = ObjDataset(spark, items)
    val users: ObjDataset[User] =
      ObjDataset(spark, (0 until Users).map(u => User(u, s"tier${u % 7}")))
    val pool: java.util.concurrent.ExecutorService =
      java.util.concurrent.Executors.newFixedThreadPool(cpus)
    val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
  }

  /** A result as rows of plain values. */
  type Rows = Seq[Seq[Any]]

  final case class ObjOp(name: String, api: Ctx => Rows, ref: Vector[Obj] => Rows)

  private val rec: Rec = Rec("o").attr("cents") * 3 + 7

  /** Deterministic CPU work for one delayed task. */
  def work(o: Obj): Long = {
    var h = o.id * 0x9E3779B97F4A7C15L + o.cents
    var i = 0
    while (i < 2000000) { h = java.lang.Long.rotateLeft(h * 0x5DEECE66DL + 11, 7); i += 1 }
    h
  }
  val DelayedTasks = 32

  /** Length, last value and a rolling hash of a prefix-sum sequence. */
  def scanSummary(scan: Seq[Long]): Rows =
    Seq(Seq(scan.size.toLong, scan.lastOption.getOrElse(0L),
      scan.foldLeft(0L)((a, b) => (a * 31 + b) % 1000000007L)))

  val ops: Seq[ObjOp] = Seq(
    ObjOp("ingest", c => { import c.spark.implicits._
      Seq(Seq(ObjDataset(c.spark, c.items, Some(c.cpus)).count())) },
      xs => Seq(Seq(xs.size.toLong))),
    ObjOp("map_filter", c => { import c.spark.implicits._
      Seq(Seq(c.base.map(o => o.cents * 3).filter(_ % 7 == 1).count())) },
      xs => Seq(Seq(xs.map(_.cents * 3).count(_ % 7 == 1).toLong))),
    ObjOp("counts", c => { import c.spark.implicits._
      c.base.map(_.kind).counts().toSeq.map { case (k, n) => Seq(k, n) } },
      xs => xs.groupBy(_.kind).toSeq.map { case (k, v) => Seq(k, v.size.toLong) }),
    ObjOp("foldby", c => { import c.spark.implicits._
      c.base.foldby[Int, Long](_.user, 0L)((b, o) => b + o.cents, _ + _).compute()
        .map { case (u, s) => Seq(u, s) } },
      xs => xs.groupBy(_.user).toSeq.map { case (u, v) => Seq(u, v.map(_.cents).sum) }),
    ObjOp("groupby", c => { import c.spark.implicits._
      c.base.groupby(_.kind).map { case (k, v) => (k, v.size.toLong, v.map(_.cents).sum) }
        .compute().map { case (k, n, s) => Seq(k, n, s) } },
      xs => xs.groupBy(_.kind).toSeq.map { case (k, v) => Seq(k, v.size.toLong, v.map(_.cents).sum) }),
    ObjOp("reduction", c => { import c.spark.implicits._
      Seq(Seq(c.base.map(_.cents).reduction[Long](_.sum, _ + _, 0L, splitEvery = 2))) },
      xs => Seq(Seq(xs.map(_.cents).sum))),
    ObjOp("topk", c => { import c.spark.implicits._
      c.base.map(o => (o.cents, o.id)).topk(20).map { case (v, i) => Seq(v, i) } },
      xs => xs.map(o => (o.cents, o.id)).sorted.reverse.take(20).map { case (v, i) => Seq(v, i) }),
    ObjOp("distinct", c => { import c.spark.implicits._
      Seq(Seq(c.base.map(o => o.user * 10 + o.tags.size).distinct().count())) },
      xs => Seq(Seq(xs.map(o => o.user * 10 + o.tags.size).distinct.size.toLong))),
    ObjOp("join", c => { import c.spark.implicits._
      c.base.join(c.users)(_.user, (u: User) => u.uid).map(_._2.tier).counts()
        .toSeq.map { case (k, n) => Seq(k, n) } },
      xs => xs.groupBy(o => s"tier${o.user % 7}").toSeq.map { case (k, v) => Seq(k, v.size.toLong) }),
    ObjOp("accumulate", c => { import c.spark.implicits._
      scanSummary(c.base.map(_.cents % 1000).accumulate(0L)(_ + _).compute()) },
      xs => scanSummary(xs.map(_.cents % 1000).scanLeft(0L)(_ + _).drop(1))),
    ObjOp("moments", c => { import c.spark.implicits._
      val v = c.base.map(_.value)
      Seq(Seq(v.mean, v.variance)) },
      xs => {
        val v = xs.map(_.value); val n = v.size
        val s = v.sum; val s2 = v.map(x => x * x).sum
        Seq(Seq(s / n, (s2 - s * s / n) / n))
      }),
    ObjOp("persist", c => { import c.spark.implicits._
      val p = c.base.map(o => (o.user, o.cents)).persist()
      val rows = Seq(Seq(p.count(), p.filter(_._2 > 50000).count()))
      p.unpersist()
      rows },
      xs => Seq(Seq(xs.size.toLong, xs.count(_.cents > 50000).toLong))),
    ObjOp("dyn", c => {
      val dyn = DynDataset(c.base.toDF)
      val doubled = (dyn.selectDynamic("cents") * 2).toDF.toDF("x").agg(sum("x")).head.getLong(0)
      val mixed: Seq[Any] = c.items.take(500).map { o =>
        if (o.id % 3 == 0) o else if (o.id % 3 == 1) Map("id" -> o.id, "note" -> o.kind) else o.cents
      }
      val fa = DynDataset.fromAny(c.spark, mixed)
      Seq(Seq(doubled, fa.df.count(), fa.df.columns.sorted.mkString(","))) },
      xs => Seq(Seq(xs.map(_.cents * 2).sum, math.min(500, xs.size).toLong,
        "cents,id,kind,note,tags,user,value"))),
    ObjOp("rec_eval", c => { import c.spark.implicits._
      val r = rec
      Seq(Seq(c.base.map(o => r.eval(o).asInstanceOf[Long]).reduction[Long](_.sum, _ + _, 0L))) },
      xs => Seq(Seq(xs.map(_.cents * 3 + 7).sum))),
    ObjOp("rec_lower", c =>
      Seq(Seq(c.base.toDF.select(rec.lower(col(_)).as("r")).agg(sum("r")).head.getLong(0))),
      xs => Seq(Seq(xs.map(_.cents * 3 + 7).sum))),
    ObjOp("delayed", c => {
      val t0 = System.nanoTime()
      val d = DelayedObjs.submit(c.items.take(DelayedTasks))(work)(c.ec)
      val it = d.iterator
      val first = it.next()
      c.mark("api.delayed_first", t0, System.nanoTime())
      val all = first +: it.toVector
      c.mark("api.delayed_all", t0, System.nanoTime())
      all.map(h => Seq(h)) },
      xs => xs.take(DelayedTasks).map(o => Seq(work(o))))
  )
}
