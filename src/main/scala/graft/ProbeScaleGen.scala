package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derives a 10× fixture ("sf1") from sf0.1 for the uniform scale sweep
  * (docs/PERF.md): the per-gate synthetic probes recorded there
  * validate chosen shapes in isolation, but compounding effects — block
  * store pressure across many staged frames, caps crossing over to their
  * distributed fallbacks, join outputs growing with density² — only show
  * up when the ACTUAL gates run on uniformly bigger data. Replication is
  * NOT naive: 10 exact copies of every doc/vector would turn the
  * near-dup and ANN gates into degenerate clusters-of-ten, measuring a
  * workload no real 10× corpus has. Instead each replica r (1..9):
  *   - documents: remapped doc_id, text = the SAME word multiset
  *     deterministically re-ordered by xxhash64(word, doc, r) — unigram
  *     statistics (lang-id, token counts, quality scores) scale honestly
  *     while shingle/n-gram sets diverge, so replicas are not near-dups;
  *   - embeddings: remapped vec_id, each dim perturbed by a
  *     hash-derived ±0.02 — neighborhoods stay realistic, no exact dups;
  *   - events: remapped event_id, same timestamps/users — 10× stream
  *     density, 10× per-user state (the honest scale-up of a feed);
  *   - orders/lineitem: consistent o/l_orderkey remap (FK preserved),
  *     dims (region/nation/customer/supplier/part) copied as-is — facts
  *     grow, dimensions don't, the star-schema reality.
  * rep 0 is the original sf0.1 data byte-for-byte. Output layout matches
  * Tables.load (`<out>/<name>.parquet`). Usage:
  * `runMain graft.ProbeScaleGen [srcDir] [outDir] [reps]`.
  */
object ProbeScaleGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local()

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    /** Cross the frame with replica ids 0..reps-1; rep 0 stays pristine. */
    def crossReps(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(reps).select(col("id").cast("int").as("rep")))
    val keyStep = 100_000_000L

    // documents: rep>0 re-orders each doc's words by xxhash64(word, key)
    // — same multiset, different sequence (see scaladoc).
    write(crossReps(read("documents"))
      .withColumn("doc_id2", col("doc_id") + col("rep") * keyStep)
      .select(
        col("doc_id2").as("doc_id"),
        // Permute POSITIONS, not word values: sorting words by a hash of
        // the word itself groups EQUAL words adjacent, and on a
        // small-vocabulary corpus with repeats that manufactures a tiny
        // shared pool of "x x x" trigrams whose hashes dominate the
        // minhash minima — measured max band bucket 9,971 docs / 178M
        // candidate pairs vs sf0.1's max 17. A position permutation
        // scatters repeats; replicas keep the word multiset and lose the
        // n-gram sequence, which is the intended "new distinct doc".
        when(col("rep") === 0, col("text")).otherwise(
          expr("""array_join(transform(array_sort(transform(
                 |    split(text, ' '), (wd, i) ->
                 |    struct(xxhash64(i, doc_id2) AS k, wd AS v))),
                 |  p -> p.v), ' ')""".stripMargin.replace("\n", " ")))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text"))), "documents")

    // embeddings: rep>0 perturbs each dim by a hash-derived ±0.02
    write(crossReps(read("embeddings"))
      .withColumn("vec_id2", col("vec_id") + col("rep") * keyStep)
      .select(
        col("vec_id2").as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(
          expr("""transform(embedding, (x, i) -> x +
                 |  CAST(pmod(xxhash64(vec_id2, i), 400) - 200 AS FLOAT) / 10000.0)"""
            .stripMargin.replace("\n", " ")))
          .as("embedding"),
        col("label")), "embeddings")

    // events: same wall-clock span and users, 10× the density. Replica
    // timestamps are REDRAWN uniformly across the span (hash of the new
    // id), not copied: 10 same-instant copies of every event manufacture
    // C(10,2) cliques in any interval join — measured d4 output grew
    // 3073× at 10× data (4.58M rows vs 1491; 45 phantom pairs per
    // original event dwarf the real follows). A small ± jitter is NOT
    // enough: any offset range comparable to a join window keeps the
    // replica clique intact (±5 min still left 2.33M pairs). A 10×-denser
    // feed has new arrival times spread over the whole period; with the
    // redraw, per-user window density is honestly 10× and interval-join
    // output grows the true ~density² (replicas lose the original
    // intra-day profile — acceptable for a scale probe, documented).
    // fixture ts is TIMESTAMP_NTZ — read bounds as string/seconds, not
    // java.sql.Timestamp (Row.getTimestamp throws on LocalDateTime)
    val evBounds = read("events").agg(
      date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("t0"),
      (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
        .as("span_s")).head()
    val evT0 = evBounds.getString(0)
    val evSpanS = math.max(1L, evBounds.getLong(1))
    write(crossReps(read("events"))
      .withColumn("event_id2", col("event_id") + col("rep") * keyStep)
      .select(
        col("event_id2").as("event_id"),
        when(col("rep") === 0, col("ts")).otherwise(expr(
          s"timestamp_ntz'$evT0' + make_interval(0,0,0,0,0,0, " +
            s"CAST(pmod(xxhash64(event_id2), $evSpanS) AS INT))"))
          .as("ts"),
        col("user_id"), col("event_type"), col("value"),
        col("props")), "events")

    // orders/lineitem: one consistent orderkey remap on both sides
    write(crossReps(read("orders"))
      .select((col("o_orderkey") + col("rep") * keyStep).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority")), "orders")
    write(crossReps(read("lineitem"))
      .select((col("l_orderkey") + col("rep") * keyStep).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate")), "lineitem")

    // dimensions copy through unchanged
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(read(t), t))

    spark.stop()
  }
}
