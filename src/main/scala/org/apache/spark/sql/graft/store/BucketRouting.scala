package org.apache.spark.sql.graft.store

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, In}
import org.apache.spark.sql.types.{DataType, StructType}

/** The ONE implementation of graft's bucket routing: a seed-42 murmur3
  * fold over the bucket-column values, identical to Spark's
  * `HashPartitioning` — the distribution the bucketed write required and
  * the v2 bucket function ([[GraftCatalog]]) reports for
  * storage-partitioned joins. Scan-side bucket pruning, PK-routed pack
  * probes and the catalog function MUST agree bit-for-bit, so they all
  * call here (previously four hand-synced copies).
  */
object BucketRouting {

  /** Bucket of one value combination. */
  def bucketOf(values: scala.collection.Seq[Any],
      types: scala.collection.Seq[DataType], numBuckets: Int): Int = {
    var h = 42L
    val vi = values.iterator
    val ti = types.iterator
    while (vi.hasNext) h = Murmur3HashFunction.hash(vi.next(), ti.next(), h)
    val m = h.toInt % numBuckets
    if (m < 0) m + numBuckets else m
  }

  /** Bucket of the key columns read from `input` starting at `offset`
    * (the v2 bucket-function layout: numBuckets first, then the keys).
    */
  def bucketOfRow(input: InternalRow, offset: Int, types: Array[DataType],
      numBuckets: Int): Int = {
    var h = 42L
    var i = 0
    while (i < types.length) {
      h = Murmur3HashFunction.hash(input.get(offset + i, types(i)), types(i), h)
      i += 1
    }
    val m = h.toInt % numBuckets
    if (m < 0) m + numBuckets else m
  }

  /** Most value combinations bucket targeting hashes. */
  val MaxBucketCombos = 64

  /** Buckets the pushed conjuncts allow, when they pin EVERY bucket
    * column ([[pinnedCombos]]): the pinned combinations hash to the only
    * buckets that can hold matching rows. None = can't prune.
    */
  def targetBuckets(filters: Iterable[Filter], bucketBy: Seq[String],
      numBuckets: Int, schema: StructType): Option[Set[Int]] =
    if (numBuckets <= 0) None
    else pinnedCombos(filters, bucketBy, schema, MaxBucketCombos).map { combos =>
      val types = bucketBy.map(schema(_).dataType)
      combos.map(bucketOf(_, types, numBuckets)).toSet
    }

  /** The value combinations (internal values, in `columns` order) the
    * conjuncts pin when they pin EVERY one of `columns` with
    * EqualTo/EqualNullSafe/In (In sets intersect). None = an unpinned
    * column, an unconvertible value, or more than `cap` combinations.
    */
  def pinnedCombos(filters: Iterable[Filter], columns: Seq[String],
      schema: StructType, cap: Int): Option[Seq[Seq[Any]]] = {
    val eq = scala.collection.mutable.Map.empty[String, Seq[Any]]
    filters.foreach {
      case EqualTo(c, v) if v != null => eq(c) = Seq(v)
      case EqualNullSafe(c, v) if v != null => eq(c) = Seq(v)
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
        eq(c) = eq.get(c).map(_.intersect(vs.toSeq)).getOrElse(vs.toSeq)
      case _ =>
    }
    if (!columns.forall(eq.contains)) return None
    val perCol = columns.map { c =>
      val internals = eq(c).flatMap(v => BatchPruning.internal(schema(c).dataType, v))
      if (internals.size != eq(c).size) return None // unconvertible value
      internals
    }
    if (perCol.map(_.size.toLong).product > cap) return None
    Some(perCol.foldLeft(Seq(Seq.empty[Any])) { (acc, vals) =>
      acc.flatMap(prefix => vals.map(prefix :+ _))
    })
  }
}
