package graft.devtools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** Dev harness: scale the driver-generated testdata one more decade
  * for the SCALE.md curve (sf0.1 x 10 -> "sf1"). NOT part of the
  * library surface — a measurement tool, like dev/check.py.
  *
  * Copies 1..factor-1 must not be trivial re-crawls or the dedup
  * family's timing would measure a pathological 100%-duplicate
  * corpus instead of a bigger natural one, so:
  *  - documents: ids shift by c*10^9; copy texts are MULTIPLICATIVE
  *    PERMUTATIONS of the original words (i -> i*m mod n, multiplier
  *    per-copy, coprime to most lengths) — contiguous shingles are
  *    destroyed, so a copy is NOT a near-duplicate of its source
  *    under k-gram MinHash/Jaccard, while keeping the token
  *    distribution (and so df/LSH bucket load) realistic. Copies
  *    must also not near-duplicate EACH OTHER: an additive offset
  *    (the first factor-100 attempt) only ROTATES the word sequence,
  *    and two rotations of the same permutation share all but ~2k
  *    boundary shingles (jaccard ~0.9) — that planted ~11-strong
  *    near-dup classes per source doc and sent the decade curve's
  *    q129 shuffle superlinear (3.0 GB at sf10, x50 for x10 data:
  *    the engine was OUTPUT-linear, the corpus was dup-polluted).
  *    Distinct multiplicative classes are not rotations of each
  *    other, so stride-cycle copies stay honestly dissimilar.
  *  - embeddings: ids shift; vectors circular-shift by 7c lanes for
  *    c <= 9 — far from the source in cosine, same norm/coordinate
  *    stats. A rotation-only scheme cannot scale past d-1 copies
  *    (pigeonhole: 7c mod 63 repeats every 9 copies at dim 64 —
  *    exact clone vectors), so later stride cycles compose the shift
  *    with a per-cycle deterministic SIGN-FLIP pattern (negation
  *    preserves norms and coordinate stats; distinct patterns per
  *    cycle kill the clones).
  *  - lineitem: l_orderkey shifts by c*10^9 — join keys stay unique
  *    per copy, value distributions identical.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.builder(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, out, factor)
    spark.stop()
  }

  /** Callable form so [[graft.Bench]] can self-heal a wiped `tmp/sf1`
    * before its sf1 scale gate. The output is deterministic
    * (GenScaleSpec pins regeneration identity), so the accepted sf1
    * baseline stays valid across regenerations. NOTE the round-13
    * bijectivity fix changed the ~9.6% of copies whose doc length the
    * old stride divided (they were collapsed, not permuted), so sf1
    * corpora generated before that fix differ in those copies; the
    * sf1 time gate re-validates against the accepted baseline on
    * every bench run (x1.35 headroom; the fix shifted per-query sf1
    * shuffle by <= 6% — fewer degenerate-bucket pairs, the safe
    * direction). */
  def generate(spark: SparkSession, src: String, out: String,
               factor: Int): Unit = {

    def copies(df: DataFrame)(mk: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(c => mk(df, c)).reduce(_ unionByName _)

    val shift = 1000000000L

    val docs = spark.read.parquet(s"$src/documents.parquet")
    copies(docs) { (df, c) =>
      if (c == 0) df
      else {
        // factors beyond 10 cycle the 9 strides; copies sharing a
        // stride must not relate by a ROTATION (an additive offset):
        // rotations of one permutation are near-duplicates of each
        // other (all but ~2k boundary k-grams shared), which plants
        // artificial dup classes and bends the decade curve (the
        // q129 3.0 GB lesson — see the object scaladoc). Instead
        // each stride cycle RAISES THE MULTIPLIER TO A POWER:
        // cycle e uses i -> i * (stride^(e+1) mod n) mod n — another
        // multiplicative permutation, and multiplicative classes
        // with different effective multipliers share only O(1)
        // k-grams. The stride LIST also rotates by 4 per cycle so
        // cross-cycle collisions need s1^e1 = s2^e2 (mod n) — a
        // per-doc small-multiplicative-order coincidence, not a
        // systematic class.
        //
        // BIJECTIVITY: i -> i*m mod n is a permutation ONLY when
        // gcd(m, n) = 1; since the strides are PRIME, gcd(s^k, n) > 1
        // exactly when n % s == 0, and such a "copy" COLLAPSES to the
        // n/s positions s divides — a tiny repeated word subset whose
        // shingle sets LSH-band-collide across copies and even across
        // sources (measured: 9.6% of factor-100 copies collapsed and
        // carried 97.5% of q129's 479k pollution candidate pairs —
        // the 1.44 byte exponent of the first decade run; the
        // verified output stayed clean because collapsed pairs sit
        // BELOW the 0.5 jaccard verify bar, which is why the
        // cross-copy near-dup spec never caught it). So each doc
        // PROBES the rotated stride list from its copy's index and
        // takes the first stride not dividing its n; the number of
        // probes skipped bumps the exponent, so two same-cycle copies
        // landing on one stride still get distinct multipliers
        // (start indices differ => skip counts differ). Docs where no
        // stride divides n (the ~90% majority) see the EXACT old
        // transform at any factor; n <= 2 degenerates to identity
        // (no k=3 shingles exist there — harmless). All trees here
        // are LINEAR in size: a when-guarded fold (the first attempt)
        // references its accumulator twice per step and exploded the
        // plan to 2^eMax nodes — a driver OOM at plan time, not a
        // data problem.
        val strides = Seq(3, 7, 11, 13, 17, 19, 23, 29, 31)
        val cyc = (c - 1) / 9
        val idx0 = ((c - 1) + cyc * 4) % 9
        val words = split(col("text"), "\\s+")
        val n = size(words)
        // probe order for this copy; all strides prime, so
        // "collapses" === "divides n"
        val probe = (0 until 9).map(j => strides((idx0 + j) % 9))
        val strideC = probe.foldRight(lit(1): Column)((s, rest) =>
          when(pmod(n, lit(s)) =!= 0, lit(s)).otherwise(rest))
        val skipsC = probe.zipWithIndex.foldRight(lit(0): Column) {
          case ((s, j), rest) => when(pmod(n, lit(s)) =!= 0, lit(j)).otherwise(rest)
        }
        // mult = stride^(cyc+1+skips) mod n, as an unguarded power
        // fold times a 9-branch skip-power chain (each partial stays
        // < n * 31, int-safe; the cross product can reach n^2 so it
        // multiplies as LONG; element_at wants its index as INT)
        val base = (0 to cyc).foldLeft(lit(1): Column)(
          (m, _) => pmod(m * strideC, n))
        val skipPow = (1 until 9).foldLeft(when(skipsC === 0, lit(1))) {
          (acc, j) =>
            val pj = (1 to j).foldLeft(lit(1): Column)(
              (m, _) => pmod(m * strideC, n))
            acc.when(skipsC === j, pj)
        }
        val mult = pmod(base.cast("long") * skipPow, n)
        val permuted0 = array_join(
          transform(sequence(lit(0), n - 1),
            i => element_at(words,
              (pmod(i.cast("long") * mult, n) + 1).cast("int"))), " ")
        val permuted = when(n > 0, permuted0).otherwise(col("text"))
        df.select((col("doc_id") + c * shift).as("doc_id"),
          permuted.as("text"), col("lang"), col("source"),
          length(permuted).cast("long").as("n_chars"))
      }
    }.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val idCol = "vec_id"
    val vecCol = "embedding"
    copies(emb) { (df, c) =>
      if (c == 0) df
      else {
        val v = col(vecCol)
        val d = size(v)
        // lane shift wrapped into [1, d-1]: equals the original 7c
        // for c <= 9 (byte-stable at dim 64+), never 0 (identity
        // would clone the source). Rotation alone CANNOT scale past
        // d-1 copies (pigeonhole: 7c mod 63 repeats every 9 copies
        // at dim 64 — copy 1 and copy 10 were exact clones), so
        // stride cycles past the first compose a per-cycle SIGN-FLIP
        // pattern: negate lane j iff (j+1)*cyc mod 13 < 6 — norms
        // and coordinate stats preserved, patterns distinct per
        // cycle through factor ~117 (13 distinct residue patterns)
        val cyc = (c - 1) / 9
        val r = (c - 1) % 9 + 1
        val k = pmod(lit(7 * r) - 1, d - 1) + 1
        val shifted = concat(slice(v, k + 1, d - k), slice(v, lit(1), k))
        val mixed =
          if (cyc == 0) shifted
          else transform(shifted, (x, i) =>
            when(pmod((i + 1) * cyc, lit(13)) < 6, -x).otherwise(x))
        df.withColumn(idCol, col(idCol) + c * shift).withColumn(vecCol, mixed)
      }
    }.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    copies(li) { (df, c) =>
      if (c == 0) df else df.withColumn("l_orderkey", col("l_orderkey") + c * shift)
    }.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // remaining tables: straight copies (only read whole by the
    // curve's queries, if at all)
    Seq("region", "nation", "customer", "supplier", "part", "orders", "events")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    println(s"wrote $out at ${factor}x $src")
  }
}
