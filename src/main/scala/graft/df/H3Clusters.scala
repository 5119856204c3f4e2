package graft.df

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.functions._
import graft.h3.{H3Core, H3Traversal}
import graft.pipeline.{CheckpointLayout, Dedup}
import graft.util.{Barriers, DriverRegime, Fixpoint}

/**
 * C5: connected components of neighboring cells (reference
 * `h3_cell_clusters` / `h3_cell_clusters_eq_value`,
 * h3ron-polars/src/algorithm/chunkedarray/cell_clusters.rs:7-81; core
 * union-find h3ron/src/algorithm/cell_clusters.rs:12-151).
 *
 * The reference runs a single-machine union-find over grid-disk probes;
 * at or under the small-regime bound the engine does the same on the
 * driver. At scale that is iterative *label propagation*: every cell
 * starts labeled by itself, each round joins the frontier against the
 * neighbor relation (explode of grid-ring-1, so the join key is the cell
 * id — an equi-join Catalyst shuffles on cell) and adopts the minimum
 * label seen; converged
 * when no label changes. Rounds = component diameter; each round is one
 * shuffle, AQE-sized. Cluster ids are the minimum member cell (stable and
 * deterministic, unlike the reference's arbitrary u32 ids — cluster
 * *membership* is what tests compare, cell_clusters.rs:10-13).
 */
object H3Clusters {

  /** cluster cells into connected components; when `valueCol` is set,
    * neighbors only connect if their values are equal (the `_eq_value`
    * variant). Output: original columns of `df` + `cluster` = min cell id
    * of the component.
    *
    * `fixedRounds = Some(n)` builds n propagation rounds as ONE declarative
    * plan (no driver actions, no checkpoints) — right when the component
    * diameter is known-bounded (each round propagates labels one hop, and
    * min-labels race ahead, so n >= diameter always suffices).
    * `fixedRounds = None` measures the distinct keys first. At or under
    * the small-regime bound (`CheckpointLayout.smallRegime`) it collects
    * them and runs a driver union-find over ring-1 neighbours
    * ([[driverLabels]]) — the loop's per-round jobs, not its data, were
    * its cost there; past the bound it loops to convergence through
    * `graft.util.Fixpoint.converge`, materializing each round and stopping
    * when no label changes. The small regime always returns the converged
    * components, whatever `maxIterations`. */
  def cellClusters(df: DataFrame, cellCol: String, valueCol: Option[String] = None,
      fixedRounds: Option[Int] = None, maxIterations: Int = 64,
      checkpointDir: Option[String] = None): DataFrame = {
    val keyCols: Seq[Column] = col(cellCol) +: valueCol.map(col).toSeq
    val keyNames: Seq[String] = cellCol +: valueCol.toSeq
    // null-safe equi-join on the key columns: a plain USING join drops
    // NULL-cell (or NULL-value) rows because NULL = NULL is not true; the
    // contract is that such rows stay as singleton clusters (cluster =
    // their own — possibly NULL — cell id), matching invalid-cell handling
    def joinOnKeys(left: DataFrame, right: DataFrame): DataFrame = {
      val l = left.alias("l"); val r = right.alias("r")
      val cond = keyNames.map(k => col(s"l.$k") <=> col(s"r.$k")).reduce(_ && _)
      l.join(r, cond).select(
        (left.columns.toSeq.map(c => col(s"l.$c")) ++
          right.columns.filterNot(keyNames.contains).map(c => col(s"r.$c"))): _*)
    }
    val keys = df.select(keyCols: _*).distinct()

    // Message-passing round: every cell sends its label to its ring-1
    // neighbors AND to itself (the self-message preserves the label for
    // isolated cells and makes min(msgs) = least(own, neighbors)); the
    // receiver group key includes the receiver's value, so only
    // equal-value messages merge in the eq-value variant. Two shuffles per
    // round (groupBy + membership join) — the edges-join formulation
    // costs three; the convergence loop adds one more for the
    // pointer-halving self-join, buying O(log diameter) rounds.
    def propagate(current: DataFrame, carryPrev: Boolean = false): DataFrame = {
      // coalesce: an invalid cell's ring is NULL, and exploding NULL would
      // drop the row entirely — the empty-array fallback preserves the
      // self-message so invalid/isolated cells stay as singleton clusters
      val ring = coalesce(h3_grid_ring(col(cellCol), lit(1)),
        array().cast("array<bigint>"))
      val msgs = current.select(
        (explode(array_append(ring, col(cellCol))).as(cellCol) +:
          col("cluster") +: valueCol.map(col).toSeq): _*)
      val agg = msgs.groupBy(keyCols: _*).agg(min(col("cluster")).as("cluster"))
      // restrict to the actual cell set (ring messages spill outside it);
      // carryPrev threads each key's previous label alongside for the
      // zero-extra-action convergence check
      val left =
        if (carryPrev) current.select((keyCols :+ col("cluster").as("__prev")): _*)
        else current.select(keyCols: _*)
      joinOnKeys(left, agg)
    }

    // The loop regime: label propagation with pointer halving — a label
    // is itself a member cell's id, so hop once through the
    // representative's own label (value-matched in the eq-value variant —
    // a cluster only ever merges equal values, so the rep row with that
    // value is in the same cluster). Plain propagation converges in
    // O(diameter) rounds, which a snake-shaped cluster (a coastline at
    // fine resolution) can push past any fixed budget; the compression
    // step makes it O(log diameter).
    def converge(labels0: DataFrame, freeLabels0: () => Unit): DataFrame = {
      def compress(relaxed: DataFrame): DataFrame = {
        val reps = relaxed.select(
          (col(cellCol).as("__rep") +:
            valueCol.map(c => col(c).as("__repval")).toSeq :+
            col("cluster").as("__repcluster")): _*)
        val cond = valueCol.foldLeft(col("cluster") === col("__rep"))(
          (c, v) => c && (col(v) <=> col("__repval")))
        relaxed.join(reps, cond, "left")
          .select((keyCols ++ relaxed.columns.filter(_ == "__prev").map(col) :+
            coalesce(col("__repcluster"), col("cluster")).as("cluster")): _*)
      }
      val res = Fixpoint.converge(labels0, freeLabels0, maxIterations,
          checkpointDir) { (state, _) =>
        // the slim relaxed frame is barrier'd BEFORE the compression
        // self-join: with propagate's join tree on both sides, Catalyst's
        // size-only stats estimation multiplies the unknown-size leaves
        // into astronomically wide BigInts (minutes of Toom-Cook per
        // round); as a leaf, the self-join costs nothing to plan
        val (relaxed, freeRelaxed) = Barriers.statSafeFreeable(
          propagate(state.drop("__prev"), carryPrev = true))
        // each key's previous label rides the frame, so change counting
        // shares the materializing job — one action per round where the
        // old exceptAll-vs-prev convergence check paid its own
        // two-shuffle job
        Fixpoint.Round(compress(relaxed), Fixpoint.differs("cluster", "__prev"),
          Seq(freeRelaxed))
      }
      if (!res.converged)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"cellClusters stopped after maxIterations=$maxIterations with labels " +
            "still changing: clusters may be split; raise maxIterations")
      res.frame.drop("__prev")
    }

    fixedRounds match {
      case Some(n) =>
        var labels = keys.withColumn("cluster", col(cellCol))
        (1 to n).foreach(_ => labels = propagate(labels))
        // materialize once: downstream consumers would otherwise re-plan
        // and re-execute the n-round join tree per action
        joinOnKeys(df, labels.localCheckpoint(eager = true))
      case None =>
        // the count doubles as the key set's materialization, which the
        // loop's first round would otherwise pay
        val (measuredKeys, freeKeys) = Barriers.statSafeFreeable(keys)
        val labels =
          if (CheckpointLayout.smallRegime(df.sparkSession, measuredKeys.count())) {
            val l = driverLabels(measuredKeys, cellCol, valueCol)
            freeKeys()
            l
          } else converge(measuredKeys.withColumn("cluster", col(cellCol)), freeKeys)
        joinOnKeys(df, labels)
    }
  }

  /** The small regime of [[cellClusters]]: the collected distinct keys
    * linked by a driver union-find over ring-1 neighbours, one per value
    * group in the eq-value variant (Spark groups the values, so they
    * compare as the loop's null-safe group keys do). Each cluster id is
    * its minimum member cell; a NULL or invalid cell stays a singleton,
    * and a NULL cell gets a NULL cluster id. */
  private def driverLabels(keys: DataFrame, cellCol: String,
      valueCol: Option[String]): DataFrame = {
    val groups: Seq[(Seq[Any], Seq[Row])] = valueCol match {
      case None => Seq((Nil, keys.collect().toSeq))
      case Some(v) =>
        keys.groupBy(col(v)).agg(collect_list(struct(col(cellCol))).as("__cells"))
          .collect().toSeq.map(r => (Seq(r.get(0)), r.getSeq[Row](1)))
    }
    val rows = groups.flatMap { case (value, cellRows) =>
      val (nulls, valid) = cellRows.partition(_.isNullAt(0))
      val cells = valid.map(_.getLong(0))
      val present = mutable.LongMap(cells.map(_ -> ()): _*)
      val uf = new Dedup.MinRootUnionFind
      cells.foreach { c =>
        uf.add(c)
        if (H3Core.isValidCell(c))
          H3Traversal.gridRing(c, 1).foreach(n => if (present.contains(n)) uf.union(c, n))
      }
      cells.map(c => Row.fromSeq(c +: value :+ uf.find(c))) ++
        nulls.map(_ => Row.fromSeq(null +: value :+ null))
    }
    val schema = StructType(keys.schema.fields :+ StructField("cluster", LongType, nullable = true))
    DriverRegime.frame(keys.sparkSession, rows, schema)
  }

  /** C8: aggregate bounding rect of all cells in a column — one row
    * (min_lat, min_lng, max_lat, max_lng) from the per-cell envelopes
    * (reference bounding_rect.rs:7-74). Pure built-in min/max aggregation.
    * `edges = true` treats the column as directed edges (envelope of the
    * edge boundary segment, the reference's edge impl). */
  def boundingRect(df: DataFrame, cellCol: String, edges: Boolean = false): DataFrame = {
    val b = if (edges) h3_edge_bbox(col(cellCol)) else h3_cell_bbox(col(cellCol))
    df.agg(
      min(b.getField("min_lat")).as("min_lat"),
      min(b.getField("min_lng")).as("min_lng"),
      max(b.getField("max_lat")).as("max_lat"),
      max(b.getField("max_lng")).as("max_lng"))
  }
}
