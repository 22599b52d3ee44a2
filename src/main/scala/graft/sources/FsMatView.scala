package graft.sources

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** INCREMENTAL MATERIALIZED VIEW maintenance over the file-backed store
  * — the lakehouse capability that turns the CDF machinery (q294/q295)
  * into a product: a grouped COUNT/SUM/MIN/MAX aggregate of a base
  * `fs_*`/`fsd_*` table, materialized as its own fs table and kept
  * current by applying only the base's CHANGES since the last refresh.
  * Refresh cost is O(|changes| + |view|) for the counting algebra,
  * never O(|base|) — at 100 TB the difference between re-aggregating a
  * day's appends and re-scanning the lake.
  *
  * The algebra is classic delta-propagation IVM (Gupta & Mumick's
  * counting algorithm): each change-feed row carries a sign (+1 for
  * insert/update_postimage, -1 for delete/update_preimage); the signed
  * per-group partial aggregate is a DELTA VIEW that merges with the
  * current contents by one more group-by, and groups whose maintained
  * row count reaches zero vanish.
  *
  * NULL exactness (SQL semantics, maintained not approximated): every
  * SUM column carries a per-group NON-NULL COUNTER `nn_<col>` — NULL
  * values contribute nothing to the signed sum (each NULL term drops
  * out of SUM), and the served `sum_<col>` is NULL exactly when the
  * counter reaches zero, which is when SQL's SUM over the group would
  * be NULL. (When the counter is zero the signed sum is provably 0 —
  * every non-null insert was cancelled by its delete — so storing NULL
  * loses nothing: refresh arithmetic reads it back through coalesce.)
  *
  * MIN/MAX are NOT delta-maintainable under deletes without auxiliary
  * state; they are maintained by the standard HYBRID: inserts fold in
  * incrementally (`least`/`greatest`), and a group is RECOMPUTED from
  * the pinned base snapshot only when the window deletes a value that
  * ties-or-beats the group's current extreme — the only case where the
  * stored extreme can be stale. Windows with no such deletes (appends,
  * deletes above the min / below the max) stay O(changes).
  *
  * Exactly-once: the refresh reads the feed over the PINNED window
  * (lastApplied, baseHead] (`startingVersion`/`endingVersion` — the
  * Delta batch-CDF contract), writes the merged contents DISTRIBUTED to
  * a scratch fs table, and installs them on the view with
  * [[FsStore.adoptReplace]] — ONE manifest that both swaps the
  * contents and stamps `ivm -> baseHead` as the view's applied
  * high-water mark. A crash before the adopt leaves the view and its
  * mark untouched (the next refresh redoes the work); a replayed adopt
  * installs nothing. Concurrent base commits during the refresh are
  * invisible (the window is pinned) and picked up by the next refresh.
  *
  * The definition persists as `_view.json` next to the view's `_log`,
  * so refresh needs no session state — any later session (or another
  * driver) can refresh the view from disk alone.
  *
  * Reference analog: none — dask-obj recomputes everything per
  * `.compute()` (`core.py:84-88`); this is [X]-tier warehouse machinery
  * following public Delta/Materialize designs. */
object FsMatView {

  /** A view definition: grouped COUNT + SUMs (+ optional MIN/MAX) over
    * a base table. `sumCols` must be integral in the base schema (exact
    * delta algebra); `minCols`/`maxCols` may be any orderable atomic.
    * The maintained columns are named `n_rows`, `sum_<col>` +
    * `nn_<col>` (its non-null counter — also the exact AVG story:
    * AVG(col) = sum_<col> / nn_<col>), `min_<col>`, `max_<col>`. */
  final case class ViewDef(base: String, groupCols: Seq[String],
      sumCols: Seq[String], minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil)

  private val mapper = new ObjectMapper()
  private val EpochKey = "ivm"

  private def defPath(view: String) =
    FsStore.tableDir(view).resolve("_view.json")

  def isView(view: String): Boolean = Files.exists(defPath(view))

  def definitionOf(view: String): ViewDef = {
    require(isView(view), s"graft_fs($view): not a materialized view")
    val o = mapper.readTree(Files.readAllBytes(defPath(view)))
    import scala.jdk.CollectionConverters._
    def arr(k: String): Seq[String] = Option(o.get(k))
      .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
    ViewDef(o.get("base").asText, arr("groupCols"), arr("sumCols"),
      arr("minCols"), arr("maxCols"))
  }

  /** Base version the view's contents reflect (its CDF high-water
    * mark, stamped atomically with every contents swap). */
  def appliedVersion(view: String): Long =
    FsStore.current(view).epochs.getOrElse(EpochKey,
      throw new IllegalStateException(
        s"graft_fs($view): no applied-version mark — not a view?"))

  def isFresh(view: String): Boolean =
    appliedVersion(view) == FsStore.currentVersion(definitionOf(view).base)

  /** What one refresh did: the pinned window, the change rows it
    * consumed (from MANIFEST arithmetic, not a count job), and the
    * groups written. `applied=false` = nothing to do or replay;
    * `incremental=true` = merge-on-read delta commit (only changed
    * groups written) rather than a full contents swap. */
  final case class RefreshStats(fromVersion: Long, toVersion: Long,
      deltaRows: Long, viewRows: Long, applied: Boolean,
      incremental: Boolean = false)

  /** Multi-column-group views carry a CANONICAL SERIALIZED GROUP KEY as
    * their first column (`gkey`): delta-refresh masks key on the view's
    * first column, so a composite group needs one injective scalar that
    * stands for the whole tuple. `to_json(struct(groups))` is that
    * scalar — deterministic field order (the definition's), explicit
    * nulls (never dropped, so the NULL-bearing groups stay maskable —
    * multi-group views have NO null-group delta restriction), JSON
    * escaping keeps it injective per the fixed group schema, and it is
    * one codegen'd expression. Single-group views keep their group
    * column itself as the mask key — no extra column, full
    * backward-compat with existing views. */
  private def hasGkey(d: ViewDef): Boolean = d.groupCols.size > 1
  private def gkeyExpr(d: ViewDef): Column =
    to_json(struct(d.groupCols.map(col): _*),
      Map("ignoreNullFields" -> "false"))
  /** Prepend the canonical key to `df` when the definition needs one. */
  private def withGkey(d: ViewDef, df: DataFrame): DataFrame =
    if (!hasGkey(d)) df
    else df.select(gkeyExpr(d).as("gkey") +: df.columns.map(col).toSeq: _*)

  private def viewSchema(d: ViewDef): StructType = {
    val bs = FsStore.schemaOf(d.base)
    val outNames = "n_rows" +: (d.sumCols.map(c => s"sum_$c") ++
      d.sumCols.map(c => s"nn_$c") ++ d.minCols.map(c => s"min_$c") ++
      d.maxCols.map(c => s"max_$c"))
    require(outNames.distinct.size == outNames.size,
      s"graft_fs(${d.base}): duplicate maintained columns " +
        outNames.diff(outNames.distinct).mkString(","))
    require(d.groupCols.intersect(outNames).isEmpty,
      s"graft_fs(${d.base}): group columns ${d.groupCols.mkString(",")} " +
        s"collide with the view's maintained columns ${outNames.mkString(",")}")
    require(!hasGkey(d) || !d.groupCols.contains("gkey"),
      s"graft_fs(${d.base}): 'gkey' is reserved for the canonical group " +
        "key of multi-column-group views")
    def field(c: String): StructField = bs.fields.find(_.name == c)
      .getOrElse(throw new IllegalArgumentException(
        s"graft_fs(${d.base}): no column $c for the view definition"))
    d.sumCols.foreach { c =>
      require(Set("int", "bigint").contains(field(c).dataType.simpleString),
        s"graft_fs(${d.base}): SUM($c) is not integral — the delta " +
          "algebra is only exact for COUNT/SUM over integral columns")
    }
    (d.minCols ++ d.maxCols).foreach { c =>
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(field(c).dataType) &&
        !field(c).dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
        !field(c).dataType.isInstanceOf[org.apache.spark.sql.types.StructType],
        s"graft_fs(${d.base}): MIN/MAX($c) needs an orderable atomic type")
    }
    StructType(
      (if (hasGkey(d)) Seq(StructField("gkey", StringType, nullable = true))
       else Nil) ++
      d.groupCols.map(c => StructField(c, field(c).dataType, nullable = true)) ++
        (StructField("n_rows", LongType, nullable = true) +:
          (d.sumCols.map(c => StructField(s"sum_$c", LongType, nullable = true)) ++
            d.sumCols.map(c => StructField(s"nn_$c", LongType, nullable = true)) ++
            d.minCols.map(c => StructField(s"min_$c", field(c).dataType, nullable = true)) ++
            d.maxCols.map(c => StructField(s"max_$c", field(c).dataType, nullable = true)))))
  }

  /** Natural (non-signed) aggregate list over base rows — seeding and
    * per-group recompute use SQL's own semantics directly. */
  private def naturalAggs(d: ViewDef): Seq[Column] =
    count(lit(1)).as("n_rows") +:
      (d.sumCols.map(c => sum(col(c).cast(LongType)).as(s"sum_$c")) ++
        d.sumCols.map(c => count(col(c)).as(s"nn_$c")) ++
        d.minCols.map(c => min(col(c)).as(s"min_$c")) ++
        d.maxCols.map(c => max(col(c)).as(s"max_$c")))

  /** Create view `view` over `base` at its CURRENT version: one full
    * aggregate of the pinned base snapshot seeds the contents; every
    * later [[refresh]] is incremental. */
  def create(spark: SparkSession, view: String, base: String,
      groupCols: Seq[String], sumCols: Seq[String],
      minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil): RefreshStats = {
    require(view.startsWith("fs_"),
      s"graft_fs($view): materialized views are plain fs_ tables")
    require(!FsStore.exists(view), s"graft_fs($view): already exists")
    val d = ViewDef(base, groupCols, sumCols, minCols, maxCols)
    val schema = viewSchema(d)
    val pinned = FsStore.currentVersion(base)
    FsStore.create(view, schema)
    Files.createDirectories(FsStore.tableDir(view))
    val o = mapper.createObjectNode()
    o.put("base", base)
    def put(k: String, vs: Seq[String]): Unit = {
      val a = mapper.createArrayNode(); vs.foreach(a.add(_): Unit)
      o.set[ObjectNode](k, a): Unit
    }
    put("groupCols", groupCols); put("sumCols", sumCols)
    put("minCols", minCols); put("maxCols", maxCols)
    Files.write(defPath(view),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(o))
    val snap = spark.sql(s"SELECT * FROM graft.$base VERSION AS OF $pinned")
    val seed = withGkey(d, snap.groupBy(groupCols.map(col): _*).agg(
      naturalAggs(d).head, naturalAggs(d).tail: _*))
    val stats = swapContents(spark, view, seed, schema, pinned)
    stats.copy(fromVersion = 0L,
      deltaRows = FsStore.versionAt(base, pinned).rowCount)
  }

  /** Apply every base change committed since the last refresh.
    *
    * `mode`: `"replace"` swaps the FULL view contents atomically
    * (O(view) write; also the mask compactor — the swap clears
    * accumulated delta masks); `"delta"` commits only the CHANGED
    * groups as a merge-on-read delta (O(changed groups) write — what
    * keeps a chain of views O(changes) end-to-end). Any group-column
    * count qualifies (multi-column groups mask via the canonical
    * `gkey`), and MIN/MAX views qualify whenever the window deletes no
    * value tying-or-beating a stored extreme (pure appends trivially) —
    * the remaining delta restrictions are a single-column group whose
    * window touches the NULL group (unmaskable key) and a stale
    * extreme (needs recompute). `"auto"` (default) picks delta when
    * the change window is small against the view and the view can take
    * it, FALLING BACK to replace otherwise — never an error in auto. */
  def refresh(spark: SparkSession, view: String,
      mode: String = "auto"): RefreshStats = {
    val d = definitionOf(view)
    val last = appliedVersion(view)
    val head = FsStore.currentVersion(d.base)
    if (head <= last)
      return RefreshStats(last, head, 0L, FsStore.current(view).rowCount,
        applied = false)
    val schema = FsStore.schemaOf(view)
    val hasMM = d.minCols.nonEmpty || d.maxCols.nonEmpty
    // change rows in the window, from manifests alone (no scan)
    val deltaRows = ((last + 1) to head).iterator
      .flatMap(FsStore.versionAt(d.base, _).changes).map(_.rows).sum
    val changes = spark.read
      .option("startingVersion", (last + 1).toString)
      .option("endingVersion", head.toString)
      .table(s"graft.${d.base}__changes")
    val sign = when(col("_change_type").isin(
      FsStore.OpInsert, FsStore.OpUpdatePost), lit(1L)).otherwise(lit(-1L))
    // one signed pass over the window computes everything any path
    // needs: counts, null-exact sums + counters, and (for min/max) the
    // inserted/deleted extremes + a delete marker per group
    val deltaAggs: Seq[Column] =
      (sum(sign).as("n_rows") +:
        (d.sumCols.map(c =>
          sum(sign * col(c).cast(LongType)).as(s"sum_$c")) ++
          d.sumCols.map(c =>
            sum(when(col(c).isNotNull, sign).otherwise(0L)).as(s"nn_$c")))) ++
        (if (hasMM) Seq(sum(when(sign < 0L, 1L).otherwise(0L)).as("__n_del"))
         else Nil) ++
        d.minCols.flatMap(c => Seq(
          min(when(sign > 0L, col(c))).as(s"__ins_min_$c"),
          min(when(sign < 0L, col(c))).as(s"__del_min_$c"))) ++
        d.maxCols.flatMap(c => Seq(
          max(when(sign > 0L, col(c))).as(s"__ins_max_$c"),
          max(when(sign < 0L, col(c))).as(s"__del_max_$c")))
    val delta0 = changes.groupBy(d.groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    val viewRows = FsStore.current(view).rowCount
    val smallWindow = deltaRows < math.max(64L, viewRows / 2)
    // the delta is consumed MORE THAN ONCE only when (a) an eligibility
    // probe precedes the classification (delta/auto-small modes) or
    // (b) min/max planning joins it twice — persist exactly then, so
    // the CDF window is READ ONCE without taxing the plain replace
    // refresh (which consumes the delta a single time) with caching
    val doPersist = hasMM || mode == "delta" || (mode == "auto" && smallWindow)
    val delta = if (doPersist) delta0.persist() else delta0
    try {
      // the NULL group cannot ride a delta mask (masks key the first
      // column) — single-column groups only: multi-column groups mask
      // on the canonical gkey, which encodes NULLs and is never NULL
      // itself. Probe only when the answer can matter.
      def touchesNullGroup: Boolean = !hasGkey(d) &&
        !delta.filter(col(d.groupCols.head).isNull).isEmpty
      // MIN/MAX rides the delta path when NO stored extreme goes stale:
      // a pure-append window qualifies with zero extra IO (the signed
      // delta already counted its deletes), otherwise one join of the
      // persisted delta against the view's extremes decides —
      // O(changed groups + view), never O(base)
      def extremesStale: Boolean = hasMM && {
        val dels = delta.agg(coalesce(sum(col("__n_del")), lit(0L)))
          .head.getLong(0)
        dels > 0L && {
          val cur = spark.table(s"graft.$view")
          val mmCur = cur.select(d.groupCols.map(col) ++
            Seq(col("n_rows").as("__cur_n")) ++
            d.minCols.map(c => col(s"min_$c").as(s"__cur_min_$c")) ++
            d.maxCols.map(c => col(s"max_$c").as(s"__cur_max_$c")): _*)
          val j = delta.join(mmCur,
            d.groupCols.map(c => delta(c) <=> mmCur(c)).reduce(_ && _),
            "left")
          // a group deleted to ZERO rows never needs recompute — its
          // whole row dies under a delete mask; only a SURVIVING group
          // with an extreme-beating delete forces the replace path
          val survives =
            coalesce(col("__cur_n"), lit(0L)) + col("n_rows") > 0L
          !j.filter(staleCond(d) && survives).isEmpty
        }
      }
      val useDelta = mode match {
        case "delta" =>
          require(!touchesNullGroup,
            s"graft_fs($view): delta refresh cannot mask a NULL group " +
              "key — use mode=replace for windows touching the NULL group")
          require(!extremesStale,
            s"graft_fs($view): the window deletes a value tying-or-" +
              "beating a stored MIN/MAX — those groups need recompute; " +
              "use mode=replace (auto falls back automatically)")
          true
        case "replace" => false
        case "auto" =>
          smallWindow && !touchesNullGroup && !extremesStale
        case other => throw new IllegalArgumentException(
          s"graft_fs($view): unknown refresh mode '$other'")
      }
      val stats =
        if (useDelta) deltaContents(spark, view, d, delta, schema, head)
        else swapContents(spark, view,
          withGkey(d, mergedContents(spark, view, d, delta, head)),
          schema, head)
      stats.copy(fromVersion = last, deltaRows = deltaRows)
    } finally if (doPersist) delta.unpersist(blocking = false): Unit
  }

  /** A stored extreme goes stale ONLY when the window deleted a value
    * tying-or-beating it (deleting NULLs or interior values cannot move
    * MIN/MAX) — evaluated over a delta⋈current-extremes join carrying
    * `__del_*`/`__cur_*` columns. Shared by the replace path's hybrid
    * and the delta path's eligibility probe. */
  private def staleCond(d: ViewDef): Column = {
    val staleMin = d.minCols.map(c =>
      col(s"__del_min_$c").isNotNull && (col(s"__cur_min_$c").isNull ||
        col(s"__del_min_$c") <= col(s"__cur_min_$c")))
    val staleMax = d.maxCols.map(c =>
      col(s"__del_max_$c").isNotNull && (col(s"__cur_max_$c").isNull ||
        col(s"__del_max_$c") >= col(s"__cur_max_$c")))
    (staleMin ++ staleMax).reduce(_ || _)
  }

  /** Full merged contents for a replace refresh: counting algebra for
    * COUNT/SUM/nn, hybrid incremental-or-recompute for MIN/MAX. */
  private def mergedContents(spark: SparkSession, view: String,
      d: ViewDef, delta: DataFrame, baseVersion: Long): DataFrame = {
    val g = d.groupCols
    val sums = d.sumCols.map(c => s"sum_$c")
    val nns = d.sumCols.map(c => s"nn_$c")
    val cur = spark.table(s"graft.$view")
    // ---- counting algebra: view ∪ delta, one more group-by ----------
    // stored sums read back through coalesce (NULL ⇔ counter 0 ⇔ the
    // signed sum is exactly 0); the merged sum is re-NULLed at the end
    def countCols(src: DataFrame): DataFrame = src.select(
      (g.map(col) :+ col("n_rows")) ++
        (sums.map(c => coalesce(col(c), lit(0L)).as(c)) ++
          nns.map(c => coalesce(col(c), lit(0L)).as(c))): _*)
    val counts = countCols(cur).unionByName(countCols(delta))
      .groupBy(g.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        (sums ++ nns).map(c => sum(col(c)).as(c)): _*)
      .filter(col("n_rows") > 0L)
    val servedSums = d.sumCols.map(c =>
      when(col(s"nn_$c") === 0L, lit(null).cast(LongType))
        .otherwise(col(s"sum_$c")).as(s"sum_$c"))
    val countsServed = counts.select(
      (g.map(col) :+ col("n_rows")) ++ servedSums ++ nns.map(col): _*)
    if (d.minCols.isEmpty && d.maxCols.isEmpty) return countsServed
    // ---- min/max hybrid --------------------------------------------
    // null-safe group equality: the NULL group is a real group here
    def gEq(l: DataFrame, r: DataFrame): Column =
      g.map(c => l(c) <=> r(c)).reduce(_ && _)
    // each call mints FRESH aliases (new expression ids / dataset id):
    // the cur extremes are joined in twice (stale detection; the
    // untouched-group fallthrough) and reusing one frame would be an
    // ambiguous self-join
    def mmCurFresh(): DataFrame = cur.select(g.map(col) ++
      d.minCols.map(c => col(s"min_$c").as(s"__cur_min_$c")) ++
      d.maxCols.map(c => col(s"max_$c").as(s"__cur_max_$c")): _*)
    val mmCur = mmCurFresh()
    val mmDelta = delta.select(g.map(col) ++ Seq(col("__n_del")) ++
      d.minCols.flatMap(c => Seq(col(s"__ins_min_$c"), col(s"__del_min_$c"))) ++
      d.maxCols.flatMap(c => Seq(col(s"__ins_max_$c"), col(s"__del_max_$c"))): _*)
    val touched0 = mmDelta.join(mmCur, gEq(mmDelta, mmCur), "left")
      .select(mmDelta.columns.map(mmDelta(_)).toIndexedSeq ++
        mmCur.columns.filterNot(g.contains).map(mmCur(_)): _*)
    // everything except [[staleCond]] groups folds in incrementally
    val needsRecompute = staleCond(d)
    val touched = touched0.select(g.map(col) ++ Seq(
      needsRecompute.as("__rec"), lit(true).as("__tch")) ++
      d.minCols.map(c =>
        least(col(s"__cur_min_$c"), col(s"__ins_min_$c")).as(s"__inc_min_$c")) ++
      d.maxCols.map(c =>
        greatest(col(s"__cur_max_$c"), col(s"__ins_max_$c")).as(s"__inc_max_$c")): _*)
    // recompute exactly the stale groups from the PINNED base snapshot
    // (semi-join pushes the group filter into the scan where possible)
    val staleGroups = touched.filter(col("__rec")).select(g.map(col): _*)
    val base = spark.sql(
      s"SELECT * FROM graft.${d.base} VERSION AS OF $baseVersion")
    val recomputed = base.join(staleGroups, gEq(base, staleGroups), "left_semi")
      .groupBy(g.map(col): _*)
      .agg(
        (d.minCols.map(c => min(col(c)).as(s"__rc_min_$c")) ++
          d.maxCols.map(c => max(col(c)).as(s"__rc_max_$c"))).head,
        (d.minCols.map(c => min(col(c)).as(s"__rc_min_$c")) ++
          d.maxCols.map(c => max(col(c)).as(s"__rc_max_$c"))).tail: _*)
    val j1 = countsServed.join(touched, gEq(countsServed, touched), "left")
      .select(countsServed.columns.map(countsServed(_)).toIndexedSeq ++
        touched.columns.filterNot(g.contains).map(touched(_)): _*)
    val mmCur2 = mmCurFresh()
    val j2 = j1.join(mmCur2, gEq(j1, mmCur2), "left")
      .select(j1.columns.map(j1(_)).toIndexedSeq ++
        mmCur2.columns.filterNot(g.contains).map(mmCur2(_)): _*)
    val j3 = j2.join(recomputed, gEq(j2, recomputed), "left")
      .select(j2.columns.map(j2(_)).toIndexedSeq ++
        recomputed.columns.filterNot(g.contains).map(recomputed(_)): _*)
    // per group: recomputed beats incremental beats untouched-current
    val finalMins = d.minCols.map(c =>
      when(col("__rec"), col(s"__rc_min_$c"))
        .when(col("__tch"), col(s"__inc_min_$c"))
        .otherwise(col(s"__cur_min_$c")).as(s"min_$c"))
    val finalMaxs = d.maxCols.map(c =>
      when(col("__rec"), col(s"__rc_max_$c"))
        .when(col("__tch"), col(s"__inc_max_$c"))
        .otherwise(col(s"__cur_max_$c")).as(s"max_$c"))
    j3.select((g.map(col) :+ col("n_rows")) ++
      d.sumCols.map(c => col(s"sum_$c")) ++ nns.map(col) ++
      finalMins ++ finalMaxs: _*)
  }

  /** MERGE-ON-READ refresh: classify the delta against the current view
    * (insert / update / group-died-delete), write ONLY those groups as
    * key + data files in one distributed pass through the shared delta
    * writer ([[DeltaSinkFactory]] over the view's [[FsSinks]], so a
    * failed pass leaves no file), and install them with the
    * high-water mark in one [[FsStore.commitDeltaWithEpoch]] manifest.
    * Write cost is O(changed groups); unchanged view files are never
    * rewritten. Masks accumulate one per refresh — a periodic
    * `mode="replace"` refresh is the compactor that clears them.
    * The mask key is the view's FIRST column: the single group column,
    * or the canonical `gkey` for multi-column groups. MIN/MAX columns
    * fold insert-incrementally (`least`/`greatest` with the stored
    * extreme) — the caller guarantees no stored extreme goes stale in
    * this window ([[staleCond]] probe). */
  private def deltaContents(spark: SparkSession, view: String,
      d: ViewDef, delta: DataFrame, schema: StructType,
      baseVersion: Long): RefreshStats = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
    val g = d.groupCols
    val keyName = schema.fields.head.name // gkey, or the single group col
    val cur = spark.table(s"graft.$view")
    val maintained = ("n_rows" +: d.sumCols.map(c => s"sum_$c")) ++
      d.sumCols.map(c => s"nn_$c")
    val keyCol = if (hasGkey(d)) gkeyExpr(d) else col(g.head)
    val dren = delta.select(keyCol.as("__g") +:
      (g.map(c => col(c).as(s"__dg_$c")) ++
        maintained.map(c => col(c).as(s"__d_$c")) ++
        d.minCols.map(c => col(s"__ins_min_$c")) ++
        d.maxCols.map(c => col(s"__ins_max_$c"))): _*)
    val joined = dren.join(cur, dren("__g") === cur(keyName), "left")
    val newNExpr = coalesce(col("n_rows"), lit(0L)) + col("__d_n_rows")
    val newN = newNExpr.as("n_rows")
    // both sides NULL-coalesced: the stored sum is NULL when its
    // counter is 0, and a window whose non-null contributions are all
    // NULL yields a NULL delta sum — either would otherwise poison the
    // addition (the round-10 advisory). The counter then re-NULLs the
    // served sum exactly when SQL's SUM would be NULL.
    val newNNs = d.sumCols.map(c =>
      (coalesce(col(s"nn_$c"), lit(0L)) +
        coalesce(col(s"__d_nn_$c"), lit(0L))).as(s"nn_$c"))
    val newSums = d.sumCols.map { c =>
      val raw = coalesce(col(s"sum_$c"), lit(0L)) +
        coalesce(col(s"__d_sum_$c"), lit(0L))
      val nn = coalesce(col(s"nn_$c"), lit(0L)) +
        coalesce(col(s"__d_nn_$c"), lit(0L))
      when(nn === 0L, lit(null).cast(LongType)).otherwise(raw).as(s"sum_$c")
    }
    // MIN/MAX: the caller's staleness probe guarantees a pure
    // insert-incremental fold — least/greatest SKIP NULLs, so an
    // all-NULL insert window keeps the stored extreme and a new group's
    // extreme is the inserted one
    val newMins = d.minCols.map(c =>
      least(col(s"min_$c"), col(s"__ins_min_$c")).as(s"min_$c"))
    val newMaxs = d.maxCols.map(c =>
      greatest(col(s"max_$c"), col(s"__ins_max_$c")).as(s"max_$c"))
    // 0 = group died (delete), 1 = update, 2 = new group (insert)
    val op = when(col("n_rows").isNotNull && newNExpr === 0L, lit(0))
      .when(col("n_rows").isNotNull, lit(1)).otherwise(lit(2))
    val out = joined
      .select(op.as("__op") +:
        ((if (hasGkey(d)) Seq(col("__g").as("gkey")) else Nil) ++
          g.map(c => col(s"__dg_$c").as(c)) ++ Seq(newN) ++
          newSums ++ newNNs ++ newMins ++ newMaxs): _*)
      .filter(!(col("__op") === 2 && col("n_rows") === 0L))
    val write = new FsWrite(view)
    val deltas = new DeltaSinkFactory(write.sinks)
    val keySchema = StructType(schema.fields.take(1))
    // each `(__op, view row)` becomes the delete / update / insert call
    // of one shared delta writer
    val writers: DataWriterFactory = (pid: Int, taskId: Long) => {
      val w = deltas.createWriter(pid, taskId)
      val dataProj = RowWriterFactory.skipMarker(schema)
      val keyProj = RowWriterFactory.skipMarker(keySchema)
      new DataWriter[InternalRow] {
        override def write(r: InternalRow): Unit = r.getInt(0) match {
          case 0 => w.delete(null, keyProj(r))
          case 1 => w.update(null, keyProj(r), dataProj(r))
          case _ => w.insert(dataProj(r))
        }
        override def commit(): WriterCommitMessage = w.commit()
        override def abort(): Unit = w.abort()
        override def close(): Unit = w.close()
      }
    }
    val applied = VersionedWrite.run(write, out.queryExecution.toRdd, writers) { ms =>
      val m = DeltaMessage.merge[FsStore.FileRef](ms)
      val applied = FsStore.commitDeltaWithEpoch(view, m.deletes,
        m.updateIds, m.updates, m.inserts, write.version.schemaId, EpochKey,
        baseVersion)
      if (!applied) write.discard(VersionedWrite.units(ms)) // replayed mark
      applied
    }
    RefreshStats(baseVersion, baseVersion, 0L,
      FsStore.current(view).rowCount, applied, incremental = true)
  }

  /** Compact a view that accumulated delta-refresh masks: swap in the
    * current contents as clean files (adoptReplace clears masks) at the
    * SAME high-water mark — a non-logical rewrite, like OPTIMIZE. */
  def compact(spark: SparkSession, view: String): Unit = {
    val hwm = appliedVersion(view)
    swapContents(spark, view, spark.table(s"graft.$view"),
      FsStore.schemaOf(view), hwm, allowSame = true): Unit
  }

  /** Distributed write of `contents` to a scratch fs table, then the
    * atomic [[FsStore.adoptReplace]] swap-with-mark onto the view. */
  private def swapContents(spark: SparkSession, view: String,
      contents: DataFrame, schema: StructType,
      baseVersion: Long, allowSame: Boolean = false): RefreshStats = {
    val scratch = s"${view}__ivm"
    if (FsStore.exists(scratch)) FsStore.drop(scratch) // crashed refresh
    FsStore.create(scratch, schema)
    contents.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .writeTo(s"graft.$scratch").append()
    val applied = FsStore.adoptReplace(view, scratch, EpochKey, baseVersion,
      allowSame)
    FsStore.drop(scratch)
    RefreshStats(baseVersion, baseVersion, 0L,
      FsStore.current(view).rowCount, applied)
  }
}
