package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** One user-visible row, engine- or oracle-side. */
final case class DocState(docId: String, tokens: Seq[Int], nTok: Long, source: String)

/** Order-insensitive per-bucket checksums: row count, wrapping sum and
  * xor of a 64-bit row hash. Buckets come from the benchmark's own key
  * hash, not the engine's. */
final case class Checksums(rows: Array[Long], sum: Array[Long], xor: Array[Long]) {
  def add(d: DocState): Checksums = {
    val b = Checksums.bucketOf(d.docId)
    val h = Checksums.rowHash(d)
    rows(b) += 1; sum(b) += h; xor(b) ^= h
    this
  }

  def merge(o: Checksums): Checksums = {
    for (b <- rows.indices) { rows(b) += o.rows(b); sum(b) += o.sum(b); xor(b) ^= o.xor(b) }
    this
  }

  /** Buckets whose checksums differ from `o`. */
  def diff(o: Checksums): Seq[Int] =
    rows.indices.filter(b => rows(b) != o.rows(b) || sum(b) != o.sum(b) || xor(b) != o.xor(b))

  def total: Long = rows.sum
}

object Checksums {
  val Buckets = 64

  def empty: Checksums =
    Checksums(new Array[Long](Buckets), new Array[Long](Buckets), new Array[Long](Buckets))

  def bucketOf(docId: String): Int = java.lang.Math.floorMod(MurmurHash3.stringHash(docId, 3), Buckets)

  def rowHash(d: DocState): Long = {
    var h = Gen.mix64(MurmurHash3.stringHash(d.docId, 11).toLong)
    if (d.tokens == null) h = Gen.mix64(h ^ 0x27d4eb2dL)
    else d.tokens.foreach(t => h = Gen.mix64(h ^ t))
    h = Gen.mix64(h ^ d.nTok)
    Gen.mix64(h ^ (if (d.source == null) 0x5bd1e995L else MurmurHash3.stringHash(d.source, 13).toLong))
  }

  def of(rows: Iterator[DocState]): Checksums = rows.foldLeft(empty)(_ add _)

  /** Checksums of a table read (user columns doc_id, tokens, n_tok,
    * source), computed where the rows live. */
  def ofTable(df: DataFrame): Checksums =
    userCols(df).rdd.mapPartitions(it => Iterator(of(it.map(docOf))))
      .collect().foldLeft(empty)(_ merge _)

  /** The user columns [[docOf]] reads, in its order. */
  def userCols(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("tokens"), col("n_tok").cast("long"), col("source"))

  def docOf(r: Row): DocState =
    DocState(r.getString(0), if (r.isNullAt(1)) null else r.getSeq[Int](1),
      if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3))
}

/** The sequential last-wins-by-lsn oracle: key -> lsn of its last
  * event, applied one event at a time in lsn order. It shares no code
  * with the engine; row contents are recomputed from the model. */
final class Oracle(model: LogModel) {
  private val lastLsn = mutable.HashMap.empty[String, Long]
  private val deleted = mutable.HashSet.empty[String]
  private val suppressed = mutable.HashSet.empty[String]

  /** Apply events [lo, hi) in lsn order. */
  def apply(lo: Long, hi: Long): Unit = {
    var i = lo
    while (i < hi) {
      val (key, op) = model.keyOp(i)
      lastLsn(key) = i
      if (op == "D") deleted += key else deleted -= key
      i += 1
    }
  }

  /** Keys whose every event the engine dropped (dedup admission): they
    * are absent from the expected state. Replaces the previous set. */
  def suppress(keys: Iterable[String]): Unit = { suppressed.clear(); suppressed ++= keys }

  def lookup(key: String): Option[DocState] =
    if (suppressed(key) || deleted(key)) None
    else lastLsn.get(key).map { i =>
      val e = model.event(i)
      DocState(e.docId, e.tokens.toSeq, e.tokens.length.toLong, e.source)
    }

  def liveKeys: Iterator[String] = lastLsn.keysIterator.filter(k => !deleted(k) && !suppressed(k))

  def checksums: Checksums = Checksums.of(liveKeys.flatMap(lookup))

  /** Expected IVM view: source -> (count, sum of n_tok). */
  def aggregate: Map[String, (Long, Long)] =
    liveKeys.flatMap(lookup).toSeq.groupBy(_.source).map { case (s, ds) =>
      s -> (ds.size.toLong, ds.map(_.nTok).sum)
    }

  /** `n` seeded keys: some hot (from `hot`), the rest known keys. */
  def sampleKeys(n: Int, seed: Long, hot: Seq[String]): Seq[String] = {
    val known = lastLsn.keysIterator.toIndexedSeq.sorted
    val rnd = new scala.util.Random(seed)
    val hotPick = rnd.shuffle(hot).take(n / 10)
    hotPick ++ Seq.fill(n - hotPick.size)(known(rnd.nextInt(known.size)))
  }
}

object Oracle {
  /** Mismatches between `readKeys` rows and the oracle for `keys`. */
  def checkRead(oracle: Oracle, keys: Seq[String], rows: Seq[Row]): Seq[String] = {
    val got = rows.map(Checksums.docOf).map(d => d.docId -> d).toMap
    val dupKeys = rows.size - got.size
    (if (dupKeys > 0) Seq(s"readKeys returned $dupKeys duplicate rows") else Nil) ++
      keys.distinct.flatMap { k =>
        (oracle.lookup(k), got.get(k)) match {
          case (e, g) if e == g => None
          case (e, g) => Some(s"readKeys($k): expected $e, got $g")
        }
      }
  }

  /** Mismatches between the table's per-bucket checksums and the oracle's. */
  def checkTable(oracle: Oracle, table: DataFrame): Seq[String] =
    checkChecksums(oracle.checksums, Checksums.ofTable(table))

  def checkChecksums(expected: Checksums, actual: Checksums): Seq[String] = {
    val bad = expected.diff(actual)
    if (bad.isEmpty) Nil
    else Seq(s"table differs from the oracle in ${bad.size} of ${Checksums.Buckets} buckets " +
      s"(rows expected=${expected.total} actual=${actual.total})")
  }

  /** Mismatches between the IVM view rows (grp, cnt, sum_val), a direct
    * groupBy of the table, and the oracle's aggregate. */
  def checkView(oracle: Oracle, view: Seq[Row], table: DataFrame): Seq[String] = {
    def asMap(rs: Seq[Row]): Map[String, (Long, Long)] =
      rs.map(r => r.getString(0) ->
        (r.getAs[Number](1).longValue, if (r.isNullAt(2)) 0L else r.getAs[Number](2).longValue)).toMap
    val direct = asMap(table.groupBy(col("source"))
      .agg(count(lit(1)), sum(col("n_tok").cast("long"))).collect().toSeq)
    val ivm = asMap(view)
    val expected = oracle.aggregate
    (if (ivm != direct) Seq(s"IVM view $ivm != groupBy of the table $direct") else Nil) ++
      (if (direct != expected) Seq(s"groupBy of the table $direct != oracle $expected") else Nil)
  }
}
