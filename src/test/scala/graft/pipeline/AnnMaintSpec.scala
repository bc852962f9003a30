package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q247 / [[AnnIndex.splitCell]], q249 as-of probes, q250 /
  * [[AnnIndex.compact]]: index maintenance. Pins
  *  - probe INVARIANCE: top-k results are bit-identical before and
  *    after a split (family expansion makes split a pure layout op);
  *  - locality: only the target cell's postings partition rewrites;
  *  - lineage: families map children to the pre-split root across
  *    NESTED splits, and the model epoch bumps per pass;
  *  - as-of: a probe pinned to epoch E equals a probe of an index
  *    that only ever committed windows <= E;
  *  - compact: exact-signature GC keeps min-vec_id representatives,
  *    leaves duplicate-free cells byte-stable, and is idempotent.
  */
class AnnMaintSpec extends SparkSpec {

  private def tmp(prefix: String) = java.nio.file.Files
    .createTempDirectory(prefix).toString

  /** Path+mtime fingerprint of one cluster partition's files. */
  private def files(idx: String, cl: Int): Set[String] = {
    val d = new java.io.File(s"$idx/postings/cluster=$cl")
    if (!d.isDirectory) Set.empty[String]
    else {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(d).map(f => f.getPath + ":" + f.lastModified).toSet
    }
  }

  test("split is probe-invariant, rewrites one partition, bumps lineage") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idx = tmp("graft-annmaint-idx")
    AnnIndex.save(spark, corpus, idx)
    AnnIndex.append(
      AnnIndex.assigner(spark, idx)(e.filter(col("vec_id") % 10 === 9)),
      idx, epoch = 0L)
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    def probe() = Similarity.annSearch(spark, idx, queries,
      excludeSelf = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    val before = probe()
    assert(before.nonEmpty)

    // split a cell that actually SERVES results, so invariance has
    // teeth: take the cell of the first query's top hit
    val fn = AnnIndex.assigner(spark, idx)
    val target = fn(e.filter(col("vec_id") === before.head._2))
      .head.getInt(1)
    // snapshot untouched partitions' file listings
    val untouched = (0 until 8).filter(_ != target)
    val snapshots = untouched.map(c => c -> files(idx, c)).toMap

    val (parent, child1, epoch1) = AnnIndex.splitCell(spark, e, idx, target)
    assert(parent == target && child1 == 8 && epoch1 == 1L)
    untouched.foreach { c =>
      assert(files(idx, c) == snapshots(c),
        s"split of cell $target touched partition cluster=$c")
    }
    // both children hold members, parent family spans them
    val fams = AnnIndex.families(spark, idx).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(fams(child1) == target && fams(target) == target)
    val counts = spark.read.parquet(s"$idx/postings")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.contains(child1) && counts(child1) > 0,
      "child cell must receive members")

    val after = probe()
    assert(after == before,
      "probe results must be bit-identical across a split " +
        s"(family expansion): before=${before.take(3)} after=${after.take(3)}")

    // NESTED split: split the child — lineage stays rooted at the
    // original parent, epoch bumps again, probe still invariant
    if (counts(child1) >= 2) {
      val (_, child2, epoch2) = AnnIndex.splitCell(spark, e, idx, child1)
      assert(child2 == 9 && epoch2 == 2L)
      val fams2 = AnnIndex.families(spark, idx).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(fams2(child2) == target,
        s"nested split must keep the pre-split root: ${fams2(child2)}")
      assert(probe() == before,
        "probe results must survive a nested split")
    }
  }

  test("merge restores split postings exactly, refuses cross-family merges, touches two partitions") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idx = tmp("graft-annmerge-idx")
    AnnIndex.save(spark, corpus, idx)
    AnnIndex.append(
      AnnIndex.assigner(spark, idx)(e.filter(col("vec_id") % 10 === 9)),
      idx, epoch = 0L)
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    def probe() = Similarity.annSearch(spark, idx, queries,
      excludeSelf = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    // the postings' logical content, epoch-blind (split collapses the
    // rewritten cell's committed epochs into the base epoch)
    def rows() = spark.read.parquet(s"$idx/postings")
      .select(col("vec_id"), col("cluster"), col("c0"), col("c1"),
        col("c2"), col("c3"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getInt(5))).toSet
    val before = probe()
    val rowsBefore = rows()
    val target = spark.read.parquet(s"$idx/postings")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("cluster")).head.getInt(0)
    val (parent, child1, _) = AnnIndex.splitCell(spark, e, idx, target)

    // cross-family merge must refuse (child1's family is the parent's
    // root; any cell outside it is a different family)
    val other = (0 until 8).find(c => c != parent).get
    intercept[IllegalArgumentException] {
      AnnIndex.mergeCells(spark, idx, other, child1)
    }

    val untouched = (0 until 8).filter(c => c != parent)
    val snaps = untouched.map(c => c -> files(idx, c)).toMap
    val epoch = AnnIndex.mergeCells(spark, idx, parent, child1)
    assert(epoch == 2L, s"split then merge must leave model epoch 2: $epoch")
    assert(rows() == rowsBefore,
      "merge(split(x)) must restore the postings content exactly")
    assert(spark.read.parquet(s"$idx/postings").count() ==
      rowsBefore.size.toLong,
      "merge must not duplicate any posting row")
    assert(!new java.io.File(s"$idx/postings/cluster=$child1").exists(),
      "the absorbed cell's directory must be deleted")
    untouched.foreach { c =>
      assert(files(idx, c) == snaps(c),
        s"merge of ($parent, $child1) touched partition cluster=$c")
    }
    val fams = AnnIndex.families(spark, idx).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(fams == (0 until 8).map(c => c -> c).toMap,
      s"family lineage must collapse back to identity: $fams")
    assert(probe() == before,
      "probe results must be bit-identical across split -> merge")
  }

  test("as-of probe equals a probe of the index with only that window committed") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val delta = e.filter(col("vec_id") % 10 === 9)
    val w0 = delta.filter(expr("(vec_id div 10) % 2 = 0"))
    val w1 = delta.filter(expr("(vec_id div 10) % 2 = 1"))
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    def probe(idx: String, asOf: Option[Long]) =
      Similarity.annSearch(spark, idx, queries, excludeSelf = true,
        asOfEpoch = asOf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSeq
    // the full history: windows 0 and 1 both committed
    val idx = tmp("graft-annasof-idx")
    AnnIndex.save(spark, corpus, idx)
    val fn = AnnIndex.assigner(spark, idx)
    AnnIndex.append(fn(w0), idx, epoch = 0L)
    AnnIndex.append(fn(w1), idx, epoch = 1L)
    // the reference: an index that ONLY ever committed window 0 (same
    // corpus fit -> identical frozen models, so as-of must match it)
    val idxRef = tmp("graft-annasof-ref")
    AnnIndex.save(spark, corpus, idxRef)
    AnnIndex.append(AnnIndex.assigner(spark, idxRef)(w0), idxRef,
      epoch = 0L)
    val asOf0 = probe(idx, Some(0L))
    assert(asOf0.nonEmpty)
    assert(asOf0 == probe(idxRef, None),
      "as-of epoch 0 must re-derive exactly the day-0 result set")
    assert(probe(idx, Some(1L)) == probe(idx, None),
      "as-of the newest epoch must equal the unpinned probe")
    // teeth: window 1 actually changed some query's top-k, otherwise
    // the equalities above hold vacuously
    assert(probe(idx, None) != asOf0,
      "fixture: the second window must perturb at least one top-k " +
        "list for the as-of pin to have teeth")
  }

  test("compact keeps min-id signature representatives, leaves duplicate-free cells byte-stable, and is idempotent") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idx = tmp("graft-anngc-idx")
    AnnIndex.save(spark, corpus, idx)
    AnnIndex.append(
      AnnIndex.assigner(spark, idx)(e.filter(col("vec_id") % 10 === 9)),
      idx, epoch = 0L)
    // CONSTRUCTED duplicates (the q245 teeth convention — organic
    // signature collisions at this SF are not guaranteed): re-ingest
    // 20 corpus vectors under fresh ids — identical embeddings give
    // identical (cluster, codes), so these are exact signature dups
    // whose keepers must be the ORIGINAL (smaller) ids
    AnnIndex.append(
      AnnIndex.assigner(spark, idx)(corpus.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))),
      idx, epoch = 1L)
    // the (cluster, c0..c3) signature census: per signature, member
    // count and the min-vec_id keeper the GC must retain
    def census() = spark.read.parquet(s"$idx/postings")
      .groupBy(col("cluster"), col("c0"), col("c1"), col("c2"), col("c3"))
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("keep"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4)) -> (r.getLong(5), r.getLong(6)))
      .toMap
    val before = census()
    assert(before.values.exists(_._1 > 1),
      "fixture must contain signature duplicates or the GC has no teeth")
    // duplicate-free cells (possibly none at this SF — the second
    // pass below pins locality on ALL cells regardless)
    val dupCells = before.collect { case (k, v) if v._1 > 1 => k._1 }.toSet
    val cleanCells = before.keySet.map(_._1) -- dupCells
    val snaps = cleanCells.map(c => c -> files(idx, c)).toMap

    val report = AnnIndex.compact(spark, idx).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // report arithmetic vs the independent census
    before.groupBy(_._1._1).foreach { case (cl, sigs) =>
      val (nb, na) = (sigs.values.map(_._1).sum, sigs.size.toLong)
      assert(report(cl) == ((nb, na, nb - na)),
        s"cell $cl report ${report(cl)} != census ($nb, $na, ${nb - na})")
    }
    // postings now hold EXACTLY the min-id representative per signature
    val after = census()
    assert(after.keySet == before.keySet,
      "compact must not create or destroy signatures")
    after.foreach { case (k, (n, keep)) =>
      assert(n == 1L, s"signature $k still has $n members")
      assert(keep == before(k)._2,
        s"signature $k keeper $keep != min-id ${before(k)._2}")
    }
    cleanCells.foreach { c =>
      assert(files(idx, c) == snaps(c),
        s"compact touched duplicate-free partition cluster=$c")
    }
    // idempotent at rest: a second pass drops nothing, touches no files
    val allSnaps = before.keySet.map(_._1).map(c => c -> files(idx, c)).toMap
    val report2 = AnnIndex.compact(spark, idx).collect()
    assert(report2.forall(_.getLong(3) == 0L),
      "second compact must be a no-op report")
    before.keySet.map(_._1).foreach { c =>
      assert(files(idx, c) == allSnaps(c),
        s"second compact rewrote partition cluster=$c")
    }
    // each maintenance pass bumps the model epoch
    val ep = DedupIndex.loadProps(idx, "model_epoch.properties")
      .map(_.getProperty("epoch").toLong)
    assert(ep.contains(2L), s"model epoch after two compacts: $ep")
  }
}
