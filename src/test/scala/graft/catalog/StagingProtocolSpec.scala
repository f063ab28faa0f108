package graft.sources.catalog

import org.apache.hadoop.fs.Path

/** White-box tests of the commit protocol itself (package-private surface):
  * create-exclusive manifests and the optimistic base-version check. The
  * black-box races live in CatalogSpec; these pin the exact protocol
  * behaviors deterministically by forging the interleavings.
  */
class StagingProtocolSpec extends graft.SparkSpec {
  import GraftStagingCatalog._

  private def freshTable(): (org.apache.hadoop.fs.FileSystem, Path) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_proto_").toString
    val raw = new Path(dir)
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(raw))
  }

  test("tryCreateExclusive: first writer wins, second loses without corrupting the file") {
    val (fs, d) = freshTable()
    val p = new Path(d, "v1.json")
    assert(tryCreateExclusive(fs, p, "{\"a\":1}"))
    assert(!tryCreateExclusive(fs, p, "{\"a\":2}"))
    assert(readString(fs, p) === "{\"a\":1}")
  }

  test("append commits merge past a racer; rewrite commits conflict on a stale base") {
    val (fs, d) = freshTable()
    // v1: an explicit manifest with file a
    writeString(fs, new Path(d, "a.parquet"), "x")
    val v1 = writeExplicitManifest(fs, d, TableMeta(), Seq("a.parquet"), kind = "commit")
    assert(v1 === 1L)
    // forge a racer: v2 lands underneath (as a concurrent commit would)
    writeString(fs, new Path(d, "b.parquet"), "x")
    assert(tryCreateExclusive(fs, new Path(new Path(d, VersionsDir), "v2.json"),
      s"""{"ts":0,"kind":"commit","files":["a.parquet","b.parquet"]}"""))
    // an APPEND commit on the stale view merges: it re-reads current (v2)
    // and mints v3 containing the racer's file plus its own delta
    writeString(fs, new Path(d, "c.parquet"), "x")
    writeCommitManifest(fs, d, TableMeta(), before = Set("a.parquet", "b.parquet"))
    val (v3, mf3) = versionManifests(fs, d).last
    assert(v3 === 3L)
    assert(Manifest.read(fs, mf3).files.toSet === Set("a.parquet", "b.parquet", "c.parquet"))
    // a REWRITE commit computed against v1 must NOT replace v3's state
    val e = intercept[java.util.ConcurrentModificationException] {
      writeExplicitManifest(fs, d, TableMeta(), Seq("rewritten.parquet"),
        kind = "update", expectedBase = Some(1L))
    }
    assert(e.getMessage.contains("conflict"), e.getMessage)
    // the chain is untouched by the aborted rewrite
    assert(versionManifests(fs, d).map(_._1) === Seq(1L, 2L, 3L))
    // the same rewrite re-run against the CURRENT base succeeds
    val v4 = writeExplicitManifest(fs, d, TableMeta(), Seq("rewritten.parquet"),
      kind = "update", expectedBase = Some(3L))
    assert(v4 === 4L)
    assert(Manifest.read(fs, versionManifests(fs, d).last._2).files === Seq("rewritten.parquet"))
  }

  test("zone-map canMatch is SOUND: a pruned file can contain no matching value") {
    // The one property pruning correctness hangs on: canMatch == false must
    // imply NO value in the file's range satisfies the filter. (The
    // converse — keeping a file with no matches — is allowed, it's just
    // conservatism.) Randomized over long value sets, nested And/Or/In
    // filters, and string ranges with StartsWith.
    import org.apache.spark.sql.sources._
    val rng = new scala.util.Random(20260814)
    def lit(): java.lang.Long = java.lang.Long.valueOf(rng.nextInt(200).toLong - 100L)
    def mkFilterL(depth: Int): Filter = rng.nextInt(if (depth > 0) 8 else 6) match {
      case 0 => EqualTo("c", lit())
      case 1 => GreaterThan("c", lit())
      case 2 => GreaterThanOrEqual("c", lit())
      case 3 => LessThan("c", lit())
      case 4 => LessThanOrEqual("c", lit())
      case 5 => In("c", Array.fill(1 + rng.nextInt(4))(lit(): Any))
      case 6 => And(mkFilterL(depth - 1), mkFilterL(depth - 1))
      case 7 => Or(mkFilterL(depth - 1), mkFilterL(depth - 1))
    }
    def evalL(f: Filter, v: Long): Boolean = f match {
      case EqualTo("c", x: java.lang.Long)            => v == x.longValue
      case GreaterThan("c", x: java.lang.Long)        => v > x.longValue
      case GreaterThanOrEqual("c", x: java.lang.Long) => v >= x.longValue
      case LessThan("c", x: java.lang.Long)           => v < x.longValue
      case LessThanOrEqual("c", x: java.lang.Long)    => v <= x.longValue
      case In("c", vs)                                => vs.exists {
        case x: java.lang.Long => x.longValue == v; case _ => false }
      case And(l, r)                                  => evalL(l, v) && evalL(r, v)
      case Or(l, r)                                   => evalL(l, v) || evalL(r, v)
      case other => fail(s"unexpected filter $other")
    }
    for (_ <- 1 to 3000) {
      val vals = Seq.fill(1 + rng.nextInt(12))(rng.nextInt(200).toLong - 100L)
      val stats: Map[(String, String), ZStat] = Map(("f", "c") -> LongZ(vals.min, vals.max))
      val f = mkFilterL(2)
      if (!ZoneMapPrunedScan.canMatch(stats, "f", f))
        assert(!vals.exists(v => evalL(f, v)),
          s"pruned file contains a match: filter=$f values=$vals")
    }
    // Bloom-aware canMatch: the SAME soundness direction with the point-
    // lookup sidecar in play. The model builds a REAL BloomFilter through
    // the production hash (bloomHash == executors' xxhash64(cast(v AS
    // string))), so a false negative anywhere in that path would surface
    // here as a pruned file containing a match. False positives only
    // over-keep (allowed); range stats and blooms compose by AND.
    for (_ <- 1 to 2000) {
      val vals = Seq.fill(1 + rng.nextInt(12))(rng.nextInt(200).toLong - 100L)
      val stats: Map[(String, String), ZStat] = Map(("f", "c") -> LongZ(vals.min, vals.max))
      val bf = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
      vals.foreach(v => bf.putLong(StagingMaintenance.bloomHash(v.toString)))
      val blooms = Map(("f", "c") -> bf)
      val f = mkFilterL(2)
      if (!ZoneMapPrunedScan.canMatch(stats, Map.empty, blooms, "f", f))
        assert(!vals.exists(v => evalL(f, v)),
          s"bloom-pruned file contains a match: filter=$f values=$vals")
      // a present value is NEVER bloom-pruned (no false negatives)
      val present = vals(rng.nextInt(vals.length))
      assert(ZoneMapPrunedScan.canMatch(stats, Map.empty, blooms, "f",
        EqualTo("c", java.lang.Long.valueOf(present))),
        s"present value $present bloom-pruned from $vals")
    }

    // String ranges incl. prefix filters. The MODEL must mirror the real
    // comparators: parquet footer min/max are UNSIGNED-UTF-8-byte ordered,
    // and Spark evaluates string comparisons on UTF8String (the same byte
    // order) — so stats construction AND filter evaluation below both use
    // utf8Cmp, never Java String `<` (UTF-16 code-unit order, which
    // disagrees when [U+E000,U+FFFF] chars mix with astral code points).
    // The alphabet deliberately mixes ASCII, U+E000, U+FFFF, and
    // supplementary-plane 𐀀/😀 to hit exactly that divergence.
    val glyphs = Array("a", "b", "d", "", "￿", "𐀀" /* U+10000 */,
      "😀" /* U+1F600 */)
    def str(): String =
      Seq.fill(1 + rng.nextInt(3))(glyphs(rng.nextInt(glyphs.length))).mkString
    val uCmp: (String, String) => Int = ZoneMapPrunedScan.utf8Cmp
    def mkFilterS(depth: Int): Filter = rng.nextInt(if (depth > 0) 7 else 5) match {
      case 0 => EqualTo("c", str())
      case 1 => GreaterThan("c", str())
      case 2 => LessThan("c", str())
      case 3 => StringStartsWith("c", str())
      case 4 => In("c", Array.fill(1 + rng.nextInt(3))(str(): Any))
      case 5 => And(mkFilterS(depth - 1), mkFilterS(depth - 1))
      case 6 => Or(mkFilterS(depth - 1), mkFilterS(depth - 1))
    }
    def evalS(f: Filter, v: String): Boolean = f match {
      case EqualTo("c", x: String)        => v == x
      case GreaterThan("c", x: String)    => uCmp(v, x) > 0
      case LessThan("c", x: String)       => uCmp(v, x) < 0
      case StringStartsWith("c", p)       => v.startsWith(p)
      case In("c", vs)                    => vs.exists { case x: String => x == v; case _ => false }
      case And(l, r)                      => evalS(l, v) && evalS(r, v)
      case Or(l, r)                       => evalS(l, v) || evalS(r, v)
      case other => fail(s"unexpected filter $other")
    }
    for (_ <- 1 to 6000) {
      val vals = Seq.fill(1 + rng.nextInt(12))(str())
      val stats: Map[(String, String), ZStat] = Map(("f", "c") ->
        StringZ(vals.reduce((a, b) => if (uCmp(a, b) <= 0) a else b),
          vals.reduce((a, b) => if (uCmp(a, b) >= 0) a else b)))
      val f = mkFilterS(2)
      if (!ZoneMapPrunedScan.canMatch(stats, "f", f))
        assert(!vals.exists(v => evalS(f, v)),
          s"pruned file contains a match: filter=$f values=$vals")
    }
  }

  test("zone-map analyze refuses a range when any column chunk lacks usable stats") {
    // The unsound case: ONE file with MULTIPLE row groups where one chunk's
    // binary min/max were dropped by parquet's footer-stats size cap
    // (ParquetMetadataConverter.MAX_STATS_SIZE = 4 KiB) while another chunk
    // kept its range. Merging only the surviving chunk would record a
    // [min,max] that does NOT bound the dropped chunk's rows — pruning on
    // it silently loses matching rows. analyze must record NoneZ instead.
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_stats_gap_").toString
    spark.conf.set("spark.sql.catalog.gapcat.root", root)
    try {
      val conf = spark.sessionState.newHadoopConf()
      val d = {
        val raw = new Path(new Path(new Path(root), "t"), "g")
        raw.getFileSystem(conf).makeQualified(raw)
      }
      val fs = d.getFileSystem(conf)
      fs.mkdirs(d)
      // 300 rows; one >4KiB-stats string inside the FIRST hundred (parquet
      // checks block size every 100 records, so block.size=1024 flushes a
      // row group containing the big value, then at least one more group of
      // small values follows)
      val big = "z" * 8000
      val tmp = new Path(d, "_mk")
      spark.range(0, 300).coalesce(1)
        .select(col("id"),
          when(col("id") === 50, lit(big))
            .otherwise(concat(lit("k"), lpad(col("id").cast("string"), 4, "0"))).as("s"))
        .sortWithinPartitions("id")
        .write.option("parquet.block.size", "1024").parquet(tmp.toString)
      val part = fs.listStatus(tmp).filter(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet")).head.getPath
      assert(fs.rename(part, new Path(d, "gap.parquet")))
      fs.delete(tmp, true)
      // precondition: the file really has ≥2 row groups, with s-stats
      // present in some chunks and absent in at least one — otherwise this
      // test is vacuous and must fail loudly
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(d, "gap.parquet"), conf))
      val sChunks =
        try {
          import scala.jdk.CollectionConverters._
          val blocks = rd.getFooter.getBlocks.asScala
          assert(blocks.size >= 2, s"expected >=2 row groups, got ${blocks.size}")
          blocks.flatMap(_.getColumns.asScala).filter(_.getPath.toDotString == "s")
            .map(c => Option(c.getStatistics).exists(s => !s.isEmpty && s.hasNonNullValue))
        } finally rd.close()
      assert(sChunks.contains(false), "expected a chunk with dropped s-stats")
      assert(sChunks.contains(true), "expected a chunk with surviving s-stats")
      writeCommitManifest(fs, d, TableMeta(), before = Set.empty)
      StagingMaintenance.analyze(spark, "gapcat", "t", "g", Seq("s", "id"))
      val (stats, _) = StagingMaintenance.readStatsFor(fs, d)
      assert(stats(("gap.parquet", "s")) === NoneZ,
        s"partial chunk stats must yield NoneZ, got ${stats(("gap.parquet", "s"))}")
      assert(stats(("gap.parquet", "id")).isInstanceOf[LongZ])
    } finally spark.conf.unset("spark.sql.catalog.gapcat.root")
  }

  test("randomized model: interleaved appends and rewrites never lose a committed append") {
    // Conflict-arm of the catalog model test: appends and base-pinned
    // rewrites interleave; a rewrite whose base went stale must abort, and
    // after every step the CURRENT manifest equals the model.
    val (fs, d) = freshTable()
    val rng = new scala.util.Random(77)
    var model = Set.empty[String]
    var n = 0
    def newFile(): String = { n += 1; val f = s"f$n.parquet"; writeString(fs, new Path(d, f), "x"); f }
    (1 to 60).foreach { _ =>
      rng.nextInt(4) match {
        case 0 => // append
          val f = newFile()
          writeCommitManifest(fs, d, TableMeta(), before = model ++ dataFiles(fs, d).filterNot(_ == f).toSet)
          model += f
        case 1 => // rewrite against the true current base: succeeds
          val base = versionManifests(fs, d).lastOption.map(_._1).getOrElse(0L)
          val f = newFile()
          writeExplicitManifest(fs, d, TableMeta(), Seq(f), kind = "optimize", expectedBase = Some(base))
          model = Set(f)
        case 2 => // rewrite against a stale base: must abort, model unchanged
          val base = versionManifests(fs, d).lastOption.map(_._1).getOrElse(0L)
          if (base >= 1) {
            val f = newFile()
            intercept[java.util.ConcurrentModificationException] {
              writeExplicitManifest(fs, d, TableMeta(), Seq(f), kind = "delete",
                expectedBase = Some(base - 1))
            }
          }
        case 3 => // FILE-GRANULAR rewrite: carry a random subset by name,
          // replace the rest with a fresh file (the UPDATE/MERGE commit
          // shape: carried ++ fresh against the current base)
          val base = versionManifests(fs, d).lastOption.map(_._1).getOrElse(0L)
          val carried = model.filter(_ => rng.nextBoolean())
          val f = newFile()
          writeExplicitManifest(fs, d, TableMeta(), (carried + f).toSeq, kind = "update",
            expectedBase = Some(base))
          model = carried + f
      }
      val cur = versionManifests(fs, d).lastOption
        .map { case (_, mf) => Manifest.read(fs, mf).files.toSet }.getOrElse(Set.empty)
      assert(cur === model, s"current diverged from model after step: $cur vs $model")
    }
  }
}
