package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The three delete strategies (K2, `doDelete` monstache.go:4065-4147)
  * plus non-identity delete recovery (J2, `findDeletedSrcDoc`
  * 3371-3406). The reference answers "where does this delete land?" by
  * searching Elasticsearch per op; the Spark re-expression keeps "what
  * the sink holds" as keyed DataFrames (sink-as-state, SURVEY §7.4) and
  * joins — set-oriented, no per-op round trips.
  *
  * Scale: meta/sink-state joins shuffle on the id key once; the delete
  * side is usually small relative to state, so AQE broadcast kicks in.
  */
object DeleteStrategies {

  /** stateful(1): routing metadata saved at index time for docs that had
    * overrides (`shouldSave` monstache.go:3596-3605; meta store
    * 3607-3664), consulted on delete (4081-4094); docs without saved
    * meta fall back to default resolution. `metaStore` columns:
    * (namespace, id, saved_index, saved_routing) — the reference keys
    * saved meta by the NAMESPACE-QUALIFIED id (`<ns>.<id>`, 3607-3640),
    * and ids recur across collections, so an id-only join would resolve
    * one namespace's delete with another's saved routing. The saved
    * index is lowercased on read exactly like the reference's
    * getIndexMeta (3648). */
  def stateful(tombstones: DataFrame, metaStore: DataFrame,
               lowercaseSavedIndex: Boolean = true): DataFrame = {
    // the reference lowercases saved index names on read exactly like
    // getIndexMeta (3648) — a no-op against real ES, where index names
    // are lowercase by construction. A pluggable backend whose stored
    // keys ARE the authority (graft.sink.SinkWriter) passes false: the
    // saved coordinates must be used exactly as stored, or a mixed-case
    // mapped index could never be deleted.
    val saved =
      if (lowercaseSavedIndex) lower(col("saved_index"))
      else col("saved_index")
    tombstones.join(metaStore, Seq("namespace", "id"), "left")
      .withColumn("meta_index", coalesce(saved, lower(col("namespace"))))
      .withColumn("meta_routing", coalesce(col("saved_routing"), col("id")))
      .drop("saved_index", "saved_routing")
  }

  /** stateless(0), routed case: find the unique sink doc matching the
    * delete's id across the delete-index-pattern (monstache.go:4096-4139);
    * exactly one hit resolves the delete, zero or many refuse it — the
    * delete protection the reference enforces unless
    * `disable-delete-protection` (4097-4113), which switches to
    * delete-by-query semantics: EVERY hit deletes, however many — so the
    * by-query report emits one row PER hit carrying that hit's own
    * (index, routing). Collapsing to one row with independent min()s
    * would fabricate an (index, routing) pair no sink doc has, and a sink
    * executing the frame would miss every other copy. */
  def statelessRouted(deletes: DataFrame, sinkState: DataFrame,
                      stateIdCol: String = "id",
                      deleteProtection: Boolean = true): DataFrame = {
    // prune the state to the delete ids BEFORE counting (guide §3.2):
    // the hit census is only ever read through the join on the delete's
    // id, so aggregating non-matching state rows is pure waste — and the
    // state side is unbounded (everything the sink holds) while the
    // delete side is one micro-batch's tombstones, small by
    // construction, hence the explicit broadcast of its key set (no
    // dedup: duplicate keys on a semi-join's build side change nothing)
    val delIds = broadcast(deletes.select(col("id")))
    val counts = sinkState
      .join(delIds.withColumnRenamed("id", stateIdCol), Seq(stateIdCol),
        "left_semi")
      .groupBy(col(stateIdCol).as("id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("meta_index")).as("one_index"),
        min(col("meta_routing")).as("one_routing"))
    val joined = deletes.join(counts, Seq("id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
    if (deleteProtection)
      joined
        .withColumn("status",
          when(col("n_hits") === 1, "deleted").otherwise("refused"))
        .withColumn("hit_index",
          when(col("status") === "deleted", col("one_index")))
        .withColumn("hit_routing",
          when(col("status") === "deleted", col("one_routing")))
        .drop("one_index", "one_routing")
    else {
      val base = joined.drop("one_index", "one_routing")
      // by-query: one deleted row per actual hit, with the hit's REAL
      // coordinates (the reference's DeleteByQuery removes all of them)
      val perHit = base.filter(col("n_hits") >= 1)
        .join(sinkState.select(col(stateIdCol).as("id"),
          col("meta_index").as("hit_index"),
          col("meta_routing").as("hit_routing")), Seq("id"))
        .withColumn("status", lit("deleted"))
      // zero hits: the query matched nothing — reported, not dropped
      val misses = base.filter(col("n_hits") === 0)
        .withColumn("status", lit("refused"))
        .withColumn("hit_index", lit(null: String))
        .withColumn("hit_routing", lit(null: String))
      perHit.unionByName(misses)
    }
  }

  /** ignore(2): deletes are dropped entirely (monstache.go:4068-4070). */
  def ignore(ops: DataFrame): DataFrame = ops.filter(col("operation") =!= "d")

  /** J2 non-identity recovery: a delete carries only its id; the relate
    * source field is recovered from the last-known doc state (the
    * reference's sink search, exactly-one guarded upstream), and a delete
    * is emitted per related doc with the delete version offset. */
  def recoverAndPropagate(deleteKeys: DataFrame, lastKnown: DataFrame,
                          srcField: String, related: DataFrame,
                          matchField: String): DataFrame =
    // the recovered columns get reserved names BEFORE joining the related
    // collection: envelope-shaped collections carry their own `version`
    // (and possibly a column named like srcField), and unqualified
    // references after the join would be ambiguous
    deleteKeys.join(lastKnown, Seq("id"))
      .select(col("id").as("src_id"), col(srcField).as("src_key"),
        col("version").as("src_version"))
      .join(related, col("src_key") === related(matchField))
      .withColumn("operation", lit("d"))
      .withColumn("rel_version", col("src_version") + 2)
}
