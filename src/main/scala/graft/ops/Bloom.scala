package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Bloom filter over 60-bit hashes, built with plain
  * aggregations and probed with pure Column expressions — no UDF, no
  * custom expression, fully codegen'd and cross-engine deterministic
  * (DuckDB reproduces the identical bit array from the same hashes).
  *
  * Scale shape (the 100 TB decontamination problem): a benchmark /
  * blocklist gram SET is too big to broadcast as a hash set once it
  * reaches ~10⁸ entries (~100 B/entry in a HashSet), but its Bloom
  * image at ~1 byte/entry still fits comfortably: the filter becomes
  * the map-side prefilter and the EXACT join runs only over the few
  * percent of rows that pass. False positives cost one extra row in
  * the verification join; false negatives cannot happen, so recall is
  * exact — the same one-sided-error contract as the MinHash banding in
  * [[graft.ops.DedupDocs]].
  *
  * Bits are packed into 32-bit words (inside longs) rather than 64:
  * DuckDB's checked `<<` overflows on `1 << 63`, and the oracle must
  * build a bit-identical array. Probe position i reads bits
  * [i·log₂m, (i+1)·log₂m) of the SAME md5-derived hash — disjoint bit
  * slices of a strong hash are independent probe functions. XOR-with-
  * seed probes (the MinHash permutation trick) would NOT work here:
  * pos₂ = pos₁ XOR const, so the "second" probe is a deterministic
  * image of the first and the filter degenerates to k=1 — measured as
  * fpp ≈ load instead of load^k before this was caught (the same
  * correlation trap documented on [[CountMin]]'s row hashes).
  * k·log₂m must fit the 60 hash bits: k=2, m=2¹⁴ uses 28.
  *
  * The word array is collected to the driver (like k-means centroids:
  * model state, not data) and re-enters the plan as an array literal.
  * That holds to ~2²⁷ bits (16 MB literal); past it, ship the words as
  * a broadcast variable and probe via a join on word index instead.
  *
  * Kept because Spark 4.1.2 registers no Bloom-filter SQL function, and
  * the `text_decontaminate_bloom` oracle rebuilds these exact words.
  */
object Bloom {

  /** Default probe count. */
  val DefaultK: Int = 2

  private def checkParams(mBits: Int, k: Int): Unit = {
    require(mBits >= 32 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 32 (got $mBits) — the position mask " +
        "only works for powers of two")
    val logM = Integer.numberOfTrailingZeros(mBits)
    require(k >= 1 && k * logM <= 60,
      s"k * log2(mBits) = ${k * logM} exceeds the 60 hash bits (k=$k, mBits=$mBits)")
  }

  /** The k probe positions: disjoint bit slices of the hash. */
  private def positions(h: Column, mBits: Int, k: Int): Seq[Column] = {
    val logM = Integer.numberOfTrailingZeros(mBits)
    (0 until k).map(i => shiftright(h, i * logM).bitwiseAND(lit((mBits - 1).toLong)))
  }

  /** Build the filter: explode each hash into k probe positions, OR the
    * position bits into 32-bit words with one hash-aggregate (map-side
    * combined — the shuffle carries at most mBits/32 rows per
    * partition), and densify to an Array[Long] of mBits/32 words.
    *
    * @param hashes frame holding a non-null 60-bit hash column
    */
  def build(hashes: DataFrame, hashCol: String, mBits: Int,
      k: Int = DefaultK): Array[Long] = {
    checkParams(mBits, k)
    val h = col(hashCol)
    // null hashes carry no membership information and would densify as
    // null word indices — drop them here so every caller is safe
    val probes = hashes.filter(h.isNotNull)
      .select(explode(array(positions(h, mBits, k): _*)).as("pos"))
    val words = probes
      .select(shiftright(col("pos"), 5).cast("int").as("w"),
        call_function("shiftleft", lit(1L), col("pos").bitwiseAND(lit(31L)).cast("int")).as("bit"))
      .groupBy(col("w")).agg(expr("bit_or(bit)").as("bits"))
      .collect()
    val arr = new Array[Long](mBits / 32)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Membership test as one Column expression: for every seed, shift the
    * word down to the probe bit and test it. Arithmetic shiftright is
    * safe here — the &1 mask reads the target bit regardless of sign
    * extension, and it is what DuckDB's `>>` does too. */
  def mightContain(words: Array[Long], mBits: Int, h: Column,
      k: Int = DefaultK): Column = {
    checkParams(mBits, k)
    require(words.length == mBits / 32,
      s"word array length ${words.length} does not match mBits=$mBits")
    val wordsLit = lit(words)
    positions(h, mBits, k).map { pos =>
      val word = element_at(wordsLit, shiftright(pos, 5).cast("int") + 1)
      call_function("shiftright", word, pos.bitwiseAND(lit(31L)).cast("int"))
        .bitwiseAND(lit(1L)) === 1L
    }.reduce(_ && _)
  }
}
