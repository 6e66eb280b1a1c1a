package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-study data builder: writes an N× copy of a testdata dir by
  * unioning key-shifted copies of the big tables (dims are copied
  * verbatim — in a warehouse the dimensions don't grow with the fact
  * feed). Used to measure how every query's runtime scales from sf0.1
  * to ~sf1 (BASELINE.md scaling table); NOT a correctness input — the
  * oracle contract stays on the driver-generated dirs.
  *
  * Copy hygiene so the scaled statistics resemble bigger data instead of
  * planted duplicates:
  *  - fact keys shift by copy × (max+1) so joins stay consistent within a
  *    copy and key cardinality grows linearly;
  *  - document text gets a per-copy [a-z] alphabet permutation (seeded
  *    Fisher-Yates — NOT a 26-state Caesar rotation, see `rot`) so
  *    shingle / minhash / fingerprint domains are disjoint across copies
  *    at any copy count (otherwise every doc has planted near-dup twins
  *    and pair counts grow N², which measures the corpus, not the
  *    engine);
  *  - embeddings get a per-copy signed component permutation (see
  *    `scramble`) — norm-preserving, cross-copy cosines scrambled to
  *    noise — for the same reason (bucket populations grow ~linearly,
  *    not N echoes of each vector collapsing into one bucket).
  *
  * A 4th arg `plant` additionally appends the CORRECTNESS STRATUM: a
  * small, enumerable near-dup subpopulation (ids ≥ [[ScaleGate
  * .StratumBase]]) whose token alphabet (uppercase+digit tokens, which
  * no organic document or alphabet permutation of one can produce) keeps it
  * structurally unlinkable to the organic corpus — so any pairwise-local
  * dedup operator's FULL-image output restricted to the stratum equals
  * the same operator run on the stratum alone. [[ScaleGate]] exploits
  * exactly that identity to oracle-gate the LSH families at scale
  * without DuckDB ever materializing the organic pair space.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> <copies> [plant]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, out, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val plant = args.length > 3 && args(3) == "plant"
    val spark = GraftSession()

    def copyThrough(name: String): Unit =
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")

    // Key-shift offset: cast to long before max so a future testdata
    // generation shipping 32-bit key columns (schema drift between
    // rounds is a known hazard) widens instead of ClassCastException-ing,
    // and an empty table (null max) falls back to a shift of 1.
    def shiftOf(df: DataFrame, key: String): Long = {
      val row = df.agg(max(col(key).cast("long"))).head()
      (if (row.isNullAt(0)) 0L else row.getLong(0)) + 1
    }

    /** Write the scaled image in bounded-width chunks: a single
      * left-deep union of `copies` branches grows the analyzer's
      * recursion depth and one job's task count linearly in the copy
      * count (the 1000× build is the first where that bites — a
      * 1000-branch plan is deep enough to risk the analyzer's stack
      * and puts ~1000 scan tasks plus 1000 distinct translate/array
      * expression trees in ONE optimization pass). Chunking caps both
      * at 50 per job; overwrite-then-append produces the identical row
      * set (file layout differs, which nothing downstream reads). */
    def writeScaled(df: DataFrame, path: String)
                   (shift: (DataFrame, Int) => DataFrame): Unit =
      (0 until copies).grouped(50).zipWithIndex.foreach { case (is, gi) =>
        is.map(i => shift(df, i)).reduce(_ unionByName _)
          .write.mode(if (gi == 0) SaveMode.Overwrite else SaveMode.Append)
          .parquet(path)
      }

    // Per-copy alphabet PERMUTATION so cross-copy shingles diverge. A
    // plain Caesar rotation has only 26 distinct states, so a >26-copy
    // image would hand copies i and i+26 IDENTICAL text — every doc
    // gains ⌊copies/26⌋ planted exact twins and the pair space (and the
    // oracle/engine shuffle volume riding it) grows quadratically in
    // the twin count; the round-12 100× build hit exactly that (ngram
    // join spilled past the disk). A seeded Fisher-Yates permutation
    // per copy (copy 0 = identity) has 26! states; two permutations
    // agree on a whole word only at shared fixed points (~1 letter on
    // average), so whole-token — and hence shingle — collisions across
    // copies are negligible at any copy count.
    def rot(c: org.apache.spark.sql.Column, i: Int) = {
      val alphabet = "abcdefghijklmnopqrstuvwxyz"
      val perm = alphabet.toCharArray
      var s = i.toLong * 2862933555777941757L + 3037000493L
      for (k <- perm.length - 1 to 1 by -1) {
        s = s * 6364136223846793005L + 1442695040888963407L
        val j = (((s >>> 33) % (k + 1)).toInt + (k + 1)) % (k + 1)
        val t = perm(k); perm(k) = perm(j); perm(j) = t
      }
      translate(c, alphabet, if (i == 0) alphabet else new String(perm))
    }

    Seq("region", "nation", "customer", "supplier", "part").foreach(copyThrough)

    val orders = spark.read.parquet(s"$src/orders.parquet")
    val oShift = shiftOf(orders, "o_orderkey")
    writeScaled(orders, s"$out/orders.parquet")((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * oShift)))

    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    writeScaled(lineitem, s"$out/lineitem.parquet")((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * oShift)))

    val events = Tables.events(spark, src)
    val eShift = shiftOf(events, "event_id")
    val uShift = shiftOf(events, "user_id")
    writeScaled(events, s"$out/events.parquet")((d, i) => d
        .withColumn("event_id", col("event_id") + lit(i * eShift))
        .withColumn("user_id", col("user_id") + lit(i * uShift)))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dShift = shiftOf(docs, "doc_id")
    writeScaled(docs, s"$out/documents.parquet")((d, i) => d
        .withColumn("doc_id", col("doc_id") + lit(i * dShift))
        .withColumn("text", rot(col("text"), i)))

    // Per-copy SIGNED COMPONENT PERMUTATION of the embedding vectors:
    // norms and within-copy cosines are preserved exactly, cross-copy
    // cosines are scrambled to noise. The previous constant offset
    // (+0.013·i per component) drifted every high-copy vector toward
    // the all-ones direction — by copy ~50 the offset dominates the
    // [-1,1] components, so all high-copy vectors collapse into ONE
    // hyperplane bucket and pairwise cosines saturate near 1, which
    // turns every embedding operator quadratic (the round-12 100×
    // build measured exactly that as a multi-minute one-bucket
    // straggler). Assumes the testdata's fixed dim = 64.
    def scramble(c: org.apache.spark.sql.Column, i: Int) = {
      if (i == 0) c
      else {
        val dim = 64
        var s = i.toLong * 0x9E3779B97F4A7C15L + 0xD1B54A32D192ED03L
        def nxt(n: Int): Int = {
          s = s * 6364136223846793005L + 1442695040888963407L
          (((s >>> 33) % n).toInt + n) % n
        }
        val perm = (0 until dim).toArray
        for (k <- dim - 1 to 1 by -1) {
          val j = nxt(k + 1); val t = perm(k); perm(k) = perm(j); perm(j) = t
        }
        val signs = Array.fill(dim)(if (nxt(2) == 0) -1.0f else 1.0f)
        array((0 until dim).map(k =>
          (element_at(c, perm(k) + 1) * lit(signs(k))).cast("float")): _*)
      }
    }
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vShift = shiftOf(emb, "vec_id")
    writeScaled(emb, s"$out/embeddings.parquet")((d, i) => d
        .withColumn("vec_id", col("vec_id") + lit(i * vShift))
        .withColumn("embedding", scramble(col("embedding"), i)))

    if (plant) plantStratum(spark, out, copies)

    spark.stop()
  }

  /** Append the enumerable correctness stratum (see class doc). All
    * content comes from one fixed LCG, so every image plants the same
    * stratum bit-for-bit. Planted rows are built against the freshly
    * written organic schema (same column order and nullability), so the
    * image never carries two parquet schema variants. */
  private def plantStratum(spark: SparkSession, out: String,
                           copies: Int): Unit = {
    val B = ScaleGate.StratumBase
    var seed = 0x5DEECE66DL
    def nextInt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n).toInt + n) % n
    }
    // Token space: "Q<i>X" — uppercase+digits survive the organic
    // corpus's lowercase [a-z] rotation untouched and can never equal an
    // organic token, so no shingle, simhash block, minhash band, or
    // exact-hash key is shared between strata.
    val vocab = (0 until 400).map(i => s"Q${i}X")
    def draw(k: Int): Seq[String] = Seq.fill(k)(vocab(nextInt(400)))

    import org.apache.spark.sql.Row
    val docRows = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    for (b <- 0 until 120) {
      val base = draw(60)
      val near = base.zipWithIndex.map { case (t, i) =>
        if (i % 10 == 0) vocab(nextInt(400)) else t }
      val med = base.zipWithIndex.map { case (t, i) =>
        if (i % 3 == 0) vocab(nextInt(400)) else t }
      val uniq = draw(60)
      // ids are B+5b+k and B % 5 == 0, so k IS the id mod 5 — variant 4
      // lands in the %5==4 "new batch" of the incremental-admission
      // gates; alternating exact-copy/unique there yields mixed verdicts
      val texts =
        if (b % 2 == 0) Seq(base, near, med, uniq, base)
        else Seq(base, near, med, base, uniq)
      texts.zipWithIndex.foreach { case (ts, k) =>
        docRows += ((B + b * 5L + k, ts.mkString(" ")))
      }
    }
    val docSchema = spark.read.parquet(s"$out/documents.parquet").schema
    val docData = docRows.toSeq.map { case (id, text) =>
      Row.fromSeq(docSchema.fieldNames.toSeq.map {
        case "doc_id" => id
        case "text" => text
        case "lang" => "xx"
        case "source" => "stratum"
        case "n_chars" => text.length.toLong
        case other => null // future organic columns: planted rows go null
      })
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(docData, 1), docSchema)
      .write.mode(SaveMode.Append).parquet(s"$out/documents.parquet")

    def nextFloat(): Float = (nextInt(2000001) / 1000000.0f) - 1.0f
    val vecRows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
    for (b <- 0 until 150) {
      val base = Array.fill(64)(nextFloat())
      def noisy(eps: Float) = base.map(x => x + eps * nextFloat())
      vecRows += ((B + b * 4L, base))
      vecRows += ((B + b * 4L + 1, noisy(0.02f)))
      vecRows += ((B + b * 4L + 2, noisy(0.4f)))
      vecRows += ((B + b * 4L + 3, Array.fill(64)(nextFloat())))
    }
    val embSchema = spark.read.parquet(s"$out/embeddings.parquet").schema
    val embData = vecRows.toSeq.map { case (id, v) =>
      Row.fromSeq(embSchema.fieldNames.toSeq.map {
        case "vec_id" => id
        case "embedding" => v.toSeq
        case "label" => 999
        case other => null
      })
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(embData, 1), embSchema)
      .write.mode(SaveMode.Append).parquet(s"$out/embeddings.parquet")

    // MULTIMODAL stratum (round 14): real PNG and WAV payload tables,
    // sized with the image. Every payload is closed-form in its id
    // ([[graft.multimodal.Multimodal.dedupPixel]]/`audioSample`), so
    // [[ScaleGate]] can hold literal expected hashes/stats for ANY id
    // set — no copy transform is involved, hence nothing to survive it.
    // The image count is capped: the gate's brute-force oracle is
    // O(n²) Hamming evaluations, and 44k images (the 100×-image cap)
    // keep it inside DuckDB's budget while the ENGINE side still
    // exercises the pigeonhole join at full planted scale.
    val nImgBase = math.min(2000L * copies, 40000L).toInt
    val nImgDup = nImgBase / 10
    graft.multimodal.Multimodal.plantedDedupImages(spark, nImgBase, nImgDup)
      .toDF().write.mode(SaveMode.Overwrite).parquet(s"$out/images.parquet")
    val nAudio = math.min(16L * copies, 1600L).toInt
    graft.multimodal.Multimodal.plantedAudio(spark, nAudio)
      .toDF().write.mode(SaveMode.Overwrite).parquet(s"$out/audio.parquet")
  }
}
