package graft.core

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.{Bridge, CachedRows}
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, IntegerType, LongType, ShortType, StringType}

/** Typed facade mirroring hpmr's public surface (src/hpmr.h:1-10) over
  * Datasets — SURVEY §2.4. A "DistMap" here is simply a `Dataset[(K, V)]`
  * with distinct keys in column `_1` and values in `_2`, in that order
  * (the key column contract; get/has/put reject any other layout). The
  * stores [[mapreduce]] and [[put]] build are key-owned: they group on
  * `_1` itself, so the hash-partitioned Exchange routes every key to
  * partition `pmod(murmur3(k), n)`, the analog of hpmr's owner
  * `hash(k) % n_procs` (src/dist_map.h:121-124), and the partial-combine
  * → shuffle → final-combine phases are those of async_set + sync
  * (src/dist_map.h:118-130,147-210).
  *
  * Scale posture: every method is a lazy transformation on distributed
  * data; only `get`/`has`/`count` bring anything to the driver, and those
  * return scalars (a point lookup, membership and a global count — the
  * same collectives the reference exposes, src/dist_map.h:90-96,132-145).
  * A point op on a store served by the in-memory cache ([[cache]]) is one
  * job with no SQL planning that reads the cached blocks directly: on a
  * materialized key-owned store one task reads only the key's owner
  * block — the analog of the reference's lookup in the owner's resident
  * hash table; on any other store it is a planned filter whose key
  * predicate reaches the source scan.
  */
object Graft {

  /** Any associative+commutative combine fn — hpmr's reducer contract
    * (src/dist_map.h:31-39). */
  type Reducer[V] = (V, V) => V

  /** hpmr mapper: one input pair emits 0..n output pairs
    * (src/dist_map.h:257-259, src/range.h:31). */
  type Mapper[K, V, KR, VR] = (K, V) => IterableOnce[(KR, VR)]

  /** Integer range source — `Range<T>(start, end, step)` (src/range.h:7-26). */
  def fromRange(spark: SparkSession, start: Long, end: Long, step: Long = 1L): Dataset[java.lang.Long] =
    spark.range(start, end, step)

  /** The shared shuffle-reduce tail of mapreduce, mapreduceRange and put,
    * and the one place that picks how `reducer` runs, from the value
    * encoder alone: group the pairs by the `_1` column itself and merge
    * values with `reducer`, partially before the shuffle and finally
    * after it. A value whose encoder never writes null (the Scala
    * primitives) is asserted non-null on the way in, so a null `_2` in a
    * stored frame fails as it does in mapreduce's tuple decoder instead
    * of reducing as 0; such a value sits in one mutable fixed-width
    * buffer slot, so `reducer` runs as Bridge's FlatReduce (a codegen'd
    * HashAggregate). Every other value runs through Spark's
    * ReduceAggregator (the ObjectHashAggregate typed `reduceGroups`
    * runs), which passes nulls to `reducer`. Grouping on the output
    * column makes the exchange hash `_1`: the store's partitioning names
    * its key, which is what lets a cached point op read only the owning
    * partition ([[lookup]]). */
  private def reduceByKey[KR, VR](pairs: Dataset[(KR, VR)], reducer: Reducer[VR])(
      implicit ekr: Encoder[(KR, VR)], ev: Encoder[VR]): Dataset[(KR, VR)] = {
    val nonNull = Bridge.nonNullType(ev)
    val in = if (nonNull.isDefined) Bridge.notNull(col("_2"), ev) else col("_2")
    val reduced = nonNull.filter(UnsafeRow.isMutable) match {
      case Some(t) => Bridge.flatReduce(reducer, in.cast(t))
      case None => udaf(Bridge.reduceAggregator(reducer), ev)(Bridge.inputs(in, ev): _*)
    }
    pairs.groupBy(col("_1")).agg(reduced.as("_2")).as[(KR, VR)]
  }

  /** The central operator: flat-map each pair through `mapper`, hash-shuffle
    * by the emitted key, merge values with `reducer`
    * (DistMap::mapreduce, src/dist_map.h:255-279). Spark plans map-side
    * partial reduction before the exchange, matching hpmr's staging-map
    * combine (a HashAggregate for a primitive value, an
    * ObjectHashAggregate for any other, [[reduceByKey]]), and the
    * exchange hashes the key column `_1`, the analog of hpmr's owner
    * `hash(k) % n_procs` (src/dist_map.h:121-124). */
  def mapreduce[K, V, KR, VR](in: Dataset[(K, V)], mapper: Mapper[K, V, KR, VR],
                              reducer: Reducer[VR])(
      implicit ekr: Encoder[(KR, VR)], ev: Encoder[VR]): Dataset[(KR, VR)] =
    reduceByKey(in.flatMap { case (k, v) => mapper(k, v) }, reducer)

  /** Range::mapreduce (src/range.h:28-64): the same shape with the range
    * source fused in. */
  def mapreduceRange[KR, VR](range: Dataset[java.lang.Long],
                             mapper: Long => IterableOnce[(KR, VR)],
                             reducer: Reducer[VR])(
      implicit ekr: Encoder[(KR, VR)], ev: Encoder[VR]): Dataset[(KR, VR)] =
    reduceByKey(range.flatMap((i: java.lang.Long) => mapper(i)), reducer)

  /** Buffered write with combine (DistMap::async_set,
    * src/dist_map.h:118-130): merge a batch of new pairs into the store,
    * resolving key collisions with `reducer`, by the same reduce as
    * [[mapreduce]] ([[reduceByKey]]): a null value of a primitive `V`
    * fails with NOT_NULL_ASSERT_VIOLATION, as mapreduce's decoder does.
    * The union is positional, so both sides must hold the key column
    * contract ([[requireKeyed]]). */
  def put[K, V](store: Dataset[(K, V)], batch: Dataset[(K, V)], reducer: Reducer[V])(
      implicit ekv: Encoder[(K, V)], ev: Encoder[V]): Dataset[(K, V)] = {
    requireKeyed("Graft.put", store)
    requireKeyed("Graft.put", batch)
    reduceByKey(store.union(batch), reducer)
  }

  /** The key column contract of a store: its first two columns are `_1`
    * (the key) and `_2` (the value), in that order. The relational ops
    * find the key by name while a tuple decodes and a union pairs columns
    * by position, so a store written `_2, _1` would silently key on its
    * values; `op` rejects it, naming the schema. */
  private def requireKeyed(op: String, store: Dataset[_]): Unit =
    if (!store.columns.take(2).sameElements(Seq("_1", "_2")))
      throw new IllegalArgumentException(
        s"$op: a store's first two columns must be _1 (key), _2 (value); got ${store.schema.simpleString}")

  /** The Catalyst type of `key` when SQL `=` on it matches Scala `==`
    * (integral types, strings, booleans), else None. The one allowlist
    * that chooses how a point op compares keys, on both paths: SQL
    * equality for these (a Column predicate that Catalyst pushes into the
    * source scan, or the internal value on cached rows); the typed `==`
    * on the decoded pair for the rest. Floating-point keys stay typed
    * because SQL treats NaN = NaN as true while `==` does not; product
    * keys (hpmr's template contract) cannot be `lit`-encoded, and a `null`
    * key equals nothing under SQL `=` but a null key under `==`. An
    * allowlist beats try/catch — a swallowed exception would silently
    * degrade lookups to full scans. */
  private def sqlKeyType(key: Any): Option[DataType] = key match {
    case _: java.lang.Long => Some(LongType)
    case _: java.lang.Integer => Some(IntegerType)
    case _: java.lang.Short => Some(ShortType)
    case _: java.lang.Byte => Some(ByteType)
    case _: String => Some(StringType)
    case _: java.lang.Boolean => Some(BooleanType)
    case _ => None
  }

  /** Key-equality filter for uncached point ops: on a parquet-backed
    * store an allowlisted key ([[sqlKeyType]]) reads only the row groups
    * whose min/max straddle it instead of deserializing every row. */
  private def keyFilter[K, V](store: Dataset[(K, V)], key: K): Dataset[(K, V)] =
    if (sqlKeyType(key).isDefined) store.filter(col("_1") === lit(key))
    else store.filter((p: (K, V)) => p._1 == key)

  /** The planned point op: the first pair of [[keyFilter]], by one
    * `take(1)` for both `get` and `has`. */
  private def firstMatch[K, V](store: Dataset[(K, V)], key: K): Option[(K, V)] =
    keyFilter(store, key).take(1).headOption

  /** The pair keyed `key`, or None, as a thunk that decodes it: `has`
    * never decodes and `get` decodes only its hit. When the in-memory
    * cache serves the store ([[CachedRows]]) it is found by one job over
    * the cached batches: each task stops at its first row whose `_1`
    * equals the key, with the comparison [[sqlKeyType]] chooses, and an
    * allowlisted key reads only the block of the partition that owns it
    * when the cache's plan is hash-partitioned on `_1` (any store
    * [[mapreduce]] or [[put]] built), else every block. An allowlisted key
    * whose column has another type (an upcast read) and every other store
    * take [[firstMatch]]. `op` names the job, which runs under no SQL
    * execution, in the Spark UI. */
  private def lookup[K, V](op: String, store: Dataset[(K, V)], key: K): Option[() => (K, V)] = {
    requireKeyed(op, store)
    (CachedRows.of(store), sqlKeyType(key)) match {
      case (Some(cache), None) =>
        val decode = CachedRows.decoder(store)
        cache.find(op, None)(r => decode(r)._1 == key).map(r => () => decode(r))
      case (Some(cache), Some(t)) if store.schema.head.dataType == t =>
        val v = CatalystTypeConverters.convertToCatalyst(key)
        cache.find(op, cache.owner(v, t))(r => !r.isNullAt(0) && r.get(0, t) == v)
          .map(r => () => CachedRows.decoder(store)(r))
      case _ => firstMatch(store, key).map(p => () => p)
    }
  }

  /** Point lookup with default (DistMap::get, src/dist_map.h:132-145).
    * Driver-side scalar — the reference's MPI_Bcast collective collapses
    * to one job over the owner's cached block when the store is cached
    * (the reference answers from the owner's resident table), else to a
    * planned, pushed-down filter + take(1) ([[lookup]]). Rejects a store
    * that breaks the key column contract ([[requireKeyed]]). */
  def get[K, V](store: Dataset[(K, V)], key: K, default: V): V =
    lookup("Graft.get", store, key).fold(default)(_()._2)

  /** Membership (`has`, src/bare_hash_container.h:181-196) for a single
    * key: the same lookup as [[get]], with nothing decoded. */
  def has[K, V](store: Dataset[(K, V)], key: K): Boolean =
    lookup("Graft.has", store, key).isDefined

  /** NaN keys can never match: SQL `<=>`/`=` treat NaN = NaN as TRUE
    * while the typed `==` of get/has (and the reference's C++ `==`, under
    * which a NaN key is unfindable in any hash container) treat it as
    * FALSE. Dropping NaN from the key SIDE makes the relational ops agree
    * with the point ops: a NaN key is never a member and never deletes. */
  private def dropNanKeys(keyDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    keyDf.schema("_k").dataType match {
      case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
        keyDf.filter(!isnan(col("_k")))
      case _ => keyDf
    }

  /** Set-membership as a relational op: keep pairs whose key appears in
    * `keys` (left-semi join — the distributed form of `has`). Keys wrap
    * in Tuple1 so product-typed keys stay a single struct column.
    * Null-safe equality (`<=>`): plain `===` evaluates to NULL for null
    * keys (or struct keys with a null field), silently never matching —
    * diverging from the typed `==` semantics of get/has. NaN keys are
    * excluded via [[dropNanKeys]] for the same consistency. */
  def hasAll[K, V](store: Dataset[(K, V)], keys: Dataset[K])(
      implicit ekv: Encoder[(K, V)], ek1: Encoder[Tuple1[K]]): Dataset[(K, V)] =
    store.join(dropNanKeys(keys.map(Tuple1(_)).select(col("_1").as("_k"))),
      col("_1") <=> col("_k"), "left_semi").as[(K, V)]

  /** Approximate distributed membership — [[hasAll]] at 100 TB: the key
    * set ships as a bloom-filter broadcast (graft.functions.Bloom, the
    * runtime-filter shape) and the STORE side is filtered map-side,
    * never shuffled. No false negatives ever; false positives at the
    * filter's capacity-contract rate, so compose `hasAll` on the
    * (already small) survivors when exactness matters — bloom pre-filter
    * + exact semi join is precisely what Spark's InjectRuntimeFilter
    * builds for selective joins. `expectedKeys` sizes the filter (~3%
    * FPP at capacity; overprovision for less). */
  def hasAllApprox[K, V](store: Dataset[(K, V)], keys: Dataset[K],
                         expectedKeys: Long = 1000000L)(
      implicit ek1: Encoder[Tuple1[K]]): Dataset[(K, V)] = {
    val keyDf = keys.map(Tuple1(_)).select(col("_1").as("_k"))
    val bloom = keyDf.agg(graft.functions.Bloom.bloomAgg(col("_k"), expectedKeys).as("bf"))
    store.filter(graft.functions.Bloom.mightContain(bloom, col("_1")))
  }

  /** Delete keys (`unset`, src/bare_hash_container.h:150-179) as a
    * left-anti join. Null-safe equality for the same reason as hasAll —
    * a null key must actually delete the null-keyed row; NaN keys delete
    * nothing, matching get/has reporting them absent. */
  def remove[K, V](store: Dataset[(K, V)], keys: Dataset[K])(
      implicit ekv: Encoder[(K, V)], ek1: Encoder[Tuple1[K]]): Dataset[(K, V)] =
    store.join(dropNanKeys(keys.map(Tuple1(_)).select(col("_1").as("_k"))),
      col("_1") <=> col("_k"), "left_anti").as[(K, V)]

  /** Set insert / dedup (HashSet::set, src/bare_set.h:34-52). */
  def distinctKeys[K, V](store: Dataset[(K, V)])(implicit ek: Encoder[K]): Dataset[K] =
    store.map(_._1).distinct()

  /** Global key count (get_n_keys, src/dist_map.h:90-96). Keys are unique
    * by construction in a keyed store, so this is a plain count. */
  def countKeys[K, V](store: Dataset[(K, V)]): Long = store.count()

  /** Pin a store in executor memory — the engine analog of holding the
    * hash table resident between queries (the reference's containers live
    * in RAM for their whole lifetime; a Dataset is recomputed per action
    * unless cached). `get`/`has` on the returned store run one job per
    * call over its cached blocks: once an action has materialized a
    * key-owned store, one task that reads only the key's owner block; a
    * block lost since is recomputed and cached again. */
  def cache[K, V](store: Dataset[(K, V)]): Dataset[(K, V)] = store.persist()

  /** `clear` (src/bare_hash_container.h:119-133): release the store's
    * materialized state. Blocking, so the memory is actually free when
    * this returns — matching the reference's immediate-deallocation
    * semantics. The Dataset remains usable (recomputed from source). */
  def clear[K, V](store: Dataset[(K, V)]): Dataset[(K, V)] =
    store.unpersist(blocking = true)

  /** `reserve` (src/bare_concurrent_container.h:22,94-97): pre-size the
    * engine for an expected key cardinality. The reference pre-allocates
    * hash buckets; the Spark analog is sizing the shuffle partition count
    * so post-shuffle partitions land near the per-task memory budget.
    * Heuristic: one partition per `keysPerPartition` expected keys.
    * NEVER SHRINKS the current setting — deliberately matching the
    * reference's reserve (and std::unordered_map::reserve), which only
    * grows capacity; callers wanting a lower width set the conf
    * directly. */
  def reserve(spark: SparkSession, expectedKeys: Long,
              keysPerPartition: Long = 4_000_000L): Int = {
    val current = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val target = math.max(current, ((expectedKeys + keysPerPartition - 1) / keysPerPartition).toInt)
    spark.conf.set("spark.sql.shuffle.partitions", target.toString)
    target
  }
}
