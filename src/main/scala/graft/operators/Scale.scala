package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sinks.DbSink

/** Scale utilities backing SURVEY.md §5: bucketed co-located joins and
  * salted (two-phase) aggregation for skewed keys. These are the knobs
  * a 100 TB deployment turns that the sf0.1 bench can't show — each is
  * plan-asserted in ScaleSpec (no Exchange on bucketed joins; exact
  * equality of salted vs direct results).
  */
object Scale {

  /** Rebalances a CPU-bound kernel's input to cluster parallelism WHEN
    * the scan under-splits it — and is a provable no-op otherwise. A
    * compact columnar file holding many narrow rows can arrive as ONE
    * split (parquet splits at row-group granularity, so a single-row-
    * group file is one task no matter the config), serializing a
    * compute-dominated stage — the signature/shingle/cosine kernels —
    * on one core while the cluster idles (measured round 15: s06's
    * sf1 probe ran 48 s at 8 cores and 41 s at 32 — the kernel was one
    * task). At 100 TB the same scan has thousands of splits, where an
    * unconditional repartition would be a pure payload shuffle (guide
    * §8's cardinal sin) — hence the guard: actual split count vs the
    * cluster's defaultParallelism, both runtime-derived, never a
    * constant. Hash-partitions on `key` (a high-cardinality id spreads
    * evenly) rather than round-robin, which would pay
    * sortBeforeRepartition on every row.
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p, key)
  }

  /** Writes `df` bucketed+sorted by `key` as a catalog table at `path`,
    * so repeated joins/aggregations on `key` skip their Exchange
    * entirely — the pre-partitioning you buy once at ingest and reuse
    * every query (the right trade for fact tables read thousands of
    * times).
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
      key: String, buckets: Int): Unit =
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", path)
      .mode("overwrite")
      .saveAsTable(table)

  /** Writes `df` range-partitioned on `cols` (one directory-friendly
    * sorted slab per range) and sorted within partitions — the layout a
    * genomic fact table wants for region queries: chrom/pos predicates
    * prune whole files via parquet row-group min/max (and the vcf
    * source's `sorted` split pruning), and downstream merge-style scans
    * read in key order without a sort. Buy once at ingest; every
    * region query after that touches only its slab. Blob columns are
    * written plain, like every DbSink parquet write
    * (`DbSink.parquetOptions`).
    */
  def writeRangeSorted(df: DataFrame, path: String, partitions: Int,
      cols: Column*): Unit =
    df.repartitionByRange(partitions, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").options(DbSink.parquetOptions(df.schema)).parquet(path)

  /** Distinct-count with the distinct phase spread over `salts`
    * sub-keys: values hash-partition into salt buckets, each bucket
    * counts ITS distinct values (no value crosses buckets, so no
    * double counting), and a cheap second aggregation sums the bucket
    * counts. The heavy shuffle key is (key, salt) — a hot key fans out
    * `salts`-ways instead of melting one reducer.
    */
  def saltedCountDistinct(df: DataFrame, key: Column, value: Column,
      salts: Int = 16): DataFrame =
    df.groupBy(key.as("k"), pmod(xxhash64(value), lit(salts)).as("_salt"))
      .agg(count_distinct(value).as("_partial"))
      .groupBy(col("k"))
      .agg(sum(col("_partial")).as("n_distinct"))

  /** Exact decimal sum with the same two-phase salting — for skewed
    * keys where even map-side partial aggregation leaves one reducer
    * holding a mega-key's combiners.
    */
  def saltedSum(df: DataFrame, key: Column, value: Column,
      salts: Int = 16): DataFrame =
    df.groupBy(key.as("k"), pmod(xxhash64(value), lit(salts)).as("_salt"))
      .agg(sum(value).as("_partial"))
      .groupBy(col("k"))
      .agg(sum(col("_partial")).as("total"))
}
