package graft.streaming

import graft.SparkSpec
import graft.write.VersionedTable
import org.apache.spark.sql.DataFrame

/** Crash consistency of every batch-stamped multi-table index, proven by
  * one systematic matrix instead of per-file arguments: run two batches,
  * then for each promote prefix k rewind the members after k to their
  * pre-batch version and tag. Versions are immutable and a promote is one
  * manifest rename, so that IS the on-disk state a crash after k promotes
  * leaves. Replaying the batch must serve exactly what the run-once index
  * serves.
  */
class CrashMatrixSpec extends SparkSpec {
  import spark.implicits._

  private def root(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-crash-$name").toString + "/ix"

  /** An index under test: its tables in promote order, a batch runner and
    * everything a reader can observe.
    */
  private final class Subject(val members: Seq[VersionedTable],
                              val batch: Int => Unit, val served: () => Any)

  /** Every row, duplicates included: a replay that re-appends what its
    * crashed attempt already promoted must show.
    */
  private def rows[T: Ordering](ds: org.apache.spark.sql.Dataset[T]): Seq[T] =
    ds.collect().toSeq.sorted

  private def crashMatrix(s: Subject): Unit = {
    s.batch(0)
    val pre = s.members.map(t => (t.currentVersion.get, t.currentTag))
    s.batch(1)
    val want = s.served()
    for (k <- s.members.indices) {
      s.members.zip(pre).drop(k).foreach { case (t, (v, tag)) => t.promote(v, tag) }
      s.batch(1)
      assert(s.served() === want, s"replay after a crash after $k promote(s)")
    }
  }

  private val docs = Seq(
    Seq((1L, "spark merge spark", "zebra guide"), (2L, "merge dup", "plain guide"),
      (3L, "spark", "plain")),
    Seq((10L, "dup dup dup", "zebra"), (11L, "merge spark merge", "plain guide")))

  test("PostingsIndex: postings, lengths, stats") {
    val ix = new PostingsIndex(spark, root("postings"))
    crashMatrix(new Subject(Seq(ix.postings, ix.lengths, ix.stats),
      i => ix.processBatch(docs(i).map(d => (d._1, d._2)).toDF("doc_id", "text"), i),
      () => (rows(ix.served().select("term", "doc_id", "tf").as[(String, Long, Long)]),
        rows(ix.servedLengths().as[(Long, Long)]), ix.corpusTotals())))
  }

  test("FieldedPostingsIndex: postings, lengths, stats") {
    val ix = new FieldedPostingsIndex(spark, root("fielded"), Seq("text", "title"))
    crashMatrix(new Subject(Seq(ix.postings, ix.lengths, ix.stats),
      i => ix.processBatch(docs(i).toDF("doc_id", "text", "title"), i),
      () => (rows(ix.served().select("term", "doc_id", "field", "tf")
        .as[(String, Long, String, Long)]),
        rows(ix.servedLengths().select("doc_id", "len_text", "len_title").as[(Long, Long, Long)]),
        ix.corpusTotals(Map("text" -> 1L, "title" -> 3L)))))
  }

  test("TtlDedupIndex: admitted, state") {
    val ix = new TtlDedupIndex(spark, root("ttl"), 1)
    val batches = Seq(Seq((1L, 10L, 0L), (2L, 20L, 0L)),
      Seq((3L, 10L, 1L), (4L, 30L, 2L), (5L, 20L, 3L)))
    crashMatrix(new Subject(Seq(ix.admitted, ix.state),
      i => ix.processBatch(batches(i).toDF("doc_id", "key", "day"), i),
      () => (rows(ix.admitted.read().as[(Long, Long, Long)]),
        rows(ix.windowState().as[(Long, Long)]))))
  }

  test("BudgetAdmitIndex: admitted, state") {
    val ix = new BudgetAdmitIndex(spark, root("budget"), Seq("en" -> 12L, "de" -> 10L))
    val batches = Seq(Seq((1L, "en", 5L, 0L), (2L, "en", 4L, 0L), (3L, "de", 9L, 0L)),
      Seq((4L, "en", 6L, 1L), (5L, "de", 2L, 1L), (6L, "en", 3L, 2L)))
    crashMatrix(new Subject(Seq(ix.admitted, ix.state),
      i => ix.processBatch(batches(i).toDF("doc_id", "stratum", "n_tokens", "day"), i),
      () => (rows(ix.admitted.read().select("id", "stratum", "n_tokens", "seq")
        .as[(Long, String, Long, Long)]),
        rows(ix.consumed().as[(String, Long)]))))
  }

  test("EmbedGuardIndex: dropped, admitted") {
    val ix = new EmbedGuardIndex(spark, root("embed"))
    ix.seed(Seq((100L, Array(1f, 0f, 0f, 0.01f))).toDF("vec_id", "embedding"))
    val batches = Seq(
      Seq((1L, Array(1f, 0f, 0f, 0f)), (2L, null), (3L, Array(0f, 1f, 0f, 0f))),
      Seq((4L, Array(0f, 0f, 1f, 0f)), (5L, null), (6L, Array(0.99f, 0.01f, 0f, 0f))))
    crashMatrix(new Subject(Seq(ix.dropped, ix.admitted),
      i => ix.processBatch(batches(i).toDF("vec_id", "embedding"), i),
      () => (rows(ix.served().as[Long]), rows(ix.droppedNull().as[Long]))))
  }

  /** The IVF families: batch 0 tombstones the %13 == 2 stratum, batch 1
    * appends fresh twins plus one tombstoned id (the un-delete), so both
    * members promote; served = every full-coverage probe row and the set.
    */
  private def ivfSubject(root: String, nCells: Int, append: DataFrame => Unit,
                         delete: DataFrame => Unit, probe: (DataFrame, Int) => DataFrame) = {
    import org.apache.spark.sql.functions._
    val emb = ivfCorpus
    val twins = emb.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 100000)
      .withColumn("embedding",
        transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
    new Subject(
      Seq("tombstones", "postings").map(t => new VersionedTable(spark, s"$root/$t")),
      {
        case 0 => delete(emb.select("vec_id").filter(col("vec_id") % 13 === 2))
        case _ => append(twins.unionByName(emb.filter(col("vec_id") === 2)))
      },
      () => Seq(probe(emb.filter(col("vec_id") < 3), nCells),
        graft.scale.AnnIndex.tombstones(spark, root)).map(_.collect().map(_.toString).sorted.toSeq))
  }

  private lazy val ivfCorpus = graft.core.Tables.embeddings(spark, sfDir)
    .select("vec_id", "embedding").cache()

  test("AnnIndex (IVF): tombstones, postings") {
    import graft.scale.AnnIndex
    val r = root("ivf")
    val idx = AnnIndex.buildIvfIndex(ivfCorpus, r)
    crashMatrix(ivfSubject(r, idx.nCentroids,
      AnnIndex.appendToIvfIndex(_, r), AnnIndex.deleteFromIvfIndex(_, r),
      (q, n) => AnnIndex.probeIvf(spark, r, q, 10, nProbe = n)))
  }

  test("Pq (IVF-PQ): tombstones, postings") {
    import graft.scale.Pq
    val r = root("ivfpq")
    val idx = Pq.buildIvfPqIndex(ivfCorpus, r)
    crashMatrix(ivfSubject(r, idx.nCells,
      Pq.appendToIvfPqIndex(_, r), Pq.deleteFromIvfPqIndex(_, r),
      (q, n) => Pq.probeIvfPq(spark, r, q, 10, nProbe = n)))
  }

  test("SpanGuardIndex: admitted, spans (growing) and admitted alone (frozen)") {
    val batches = Seq(Seq((1L, "a b c d x"), (2L, "q r s t")),
      Seq((3L, "z a b c d"), (4L, "k l m n"), (5L, "q r s t u")))
    def subject(ix: SpanGuardIndex, members: Seq[VersionedTable]) =
      new Subject(members,
        i => ix.processBatch(batches(i).toDF("doc_id", "text"), i),
        () => (rows(ix.admitted.read().as[Long]), rows(ix.spans.read().as[String])))
    val growing = new SpanGuardIndex(spark, root("spans"), n = 4)
    crashMatrix(subject(growing, Seq(growing.admitted, growing.spans)))
    val frozen = new SpanGuardIndex(spark, root("frozen"), n = 4, growSpans = false)
    frozen.seed(Seq((0L, "k l m n")).toDF("doc_id", "text"))
    crashMatrix(subject(frozen, Seq(frozen.admitted)))
  }
}
