package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Count-Min sketch over 60-bit hashes: a d×w counter
  * matrix built with one hash-aggregate, probed with pure Column
  * expressions. Estimates NEVER undercount (each cell only gains from
  * collisions), so a heavy-hitter scan over the sketch has exact
  * recall — the same one-sided-error contract as [[Bloom]] — and the
  * exact counting pass can be restricted to the candidates.
  *
  * Scale shape: the sketch is O(d·w) memory no matter how many rows it
  * absorbs (the build shuffle carries ≤ d·w partial cells per map
  * partition after map-side combine), so "find the hot keys in 100 TB"
  * becomes: one sketch pass, a map-side `estimate ≥ T` filter that
  * admits a few percent of rows, then an exact groupBy over just those
  * — the full-corpus groupBy on a skewed key (the thing
  * [[SaltedAgg]] exists to survive) is never run at all. The two
  * operators are complementary: SaltedAgg makes the exact aggregate
  * robust when you must count everything; CountMin avoids counting
  * everything when only the heavy tail matters.
  *
  * Row hashing: row i reads bits [i·log₂w, (i+1)·log₂w) of the SAME
  * md5-derived hash — disjoint bit ranges of a strong hash are
  * independent row functions, and (unlike XOR-with-seed "rows") two
  * keys that collide in one row are NOT forced to collide in the
  * others. XOR permutations preserve equality mod a power of two, so
  * d XOR rows would degenerate to d copies of one row; bit-slicing is
  * also cheaper (shift+mask, no rehash) and reproducible in DuckDB's
  * checked BIGINT arithmetic (no multiply-shift overflow). d·log₂w
  * must fit in the 60 hash bits: d=4, w=2¹³ uses 52.
  *
  * The matrix collects to the driver as model state (d·w·8 bytes —
  * 256 KB at d=4, w=8192) and re-enters the plan as array literals.
  *
  * Kept over Spark's `count_min_sketch`, which returns an opaque binary
  * under its own seeded hash and has no SQL probe: the
  * `text_cms_heavy_hitters` oracle rebuilds these exact cells in DuckDB.
  */
object CountMin {

  /** Probe positions for each of the d rows: disjoint bit slices. */
  private def positions(h: Column, w: Int, d: Int): Seq[Column] = {
    val logW = Integer.numberOfTrailingZeros(w)
    require(w >= 2 && (w & (w - 1)) == 0, s"w must be a power of two (got $w)")
    require(d >= 1 && d * logW <= 60,
      s"d * log2(w) = ${d * logW} exceeds the 60 hash bits (d=$d, w=$w)")
    (0 until d).map(i => shiftright(h, i * logW).bitwiseAND(lit((w - 1).toLong)))
  }

  /** Build the d×w matrix: one explode + one map-side-combined count
    * aggregate; absent cells densify to 0. */
  def build(items: DataFrame, hashCol: String, w: Int, d: Int): Array[Array[Long]] = {
    val h = col(hashCol)
    // null hashes count nothing and would densify as null cells — drop
    // them here so every caller is safe
    val cells = items.filter(h.isNotNull)
      .select(posexplode(array(positions(h, w, d): _*)).as(Seq("row", "pos")))
      .groupBy(col("row"), col("pos")).agg(count(lit(1)).as("c"))
      .collect()
    val m = Array.fill(d)(new Array[Long](w))
    cells.foreach(r => m(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2))
    m
  }

  /** Point estimate = min over rows of the probed cells — a pure
    * expression over array literals, evaluated map-side. */
  def estimate(matrix: Array[Array[Long]], w: Int, h: Column): Column = {
    val d = matrix.length
    val cols = positions(h, w, d).zipWithIndex.map { case (pos, i) =>
      element_at(lit(matrix(i)), pos.cast("int") + 1)
    }
    if (cols.length == 1) cols.head else least(cols: _*)
  }
}
