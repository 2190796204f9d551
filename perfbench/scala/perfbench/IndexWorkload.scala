package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.llm.KnnGraph
import graft.operators.{CommitTable, IndexManifest}

/** index-churn: closed loop, one client, writes beside reads on one
  * committed k-NN graph index. Runs the generated op sequence (routed
  * searches of external query batches, appends, tombstone deletes, and
  * consolidate + vacuum maintenance) from its start until the window has
  * passed and every kind has run. Each search is scored against an exact
  * brute-force top-k over the live vectors, computed here. */
object IndexWorkload {
  val K = 5
  /** Entry points, search beam and hops: two entries per generated
    * cluster and a beam of 16 give a mean recall@5 near 0.8 (the
    * defaults, 16 entries and a beam of 8, give about 0.5). */
  val Entries = 32
  val Beam = 16
  val Hops = 3
  /** A batch whose mean recall falls below this is a wrong answer. */
  val RecallFloor = 0.5
  private val Members = Seq("vectors", "graph", "entries", "manifest", "tombstones")

  def run(ctx: Ctx): Unit = {
    import ctx._
    val spark = ctx.spark
    def vectors(name: String): Seq[(Int, Long, Array[Double])] = lines(name).map { l =>
      val a = l.split("\t")
      if (a.length == 2) (0, a(0).toLong, a(1).split(",").map(_.toDouble))
      else (a(0).toInt, a(1).toLong, a(2).split(",").map(_.toDouble))
    }
    val base = vectors("base.tsv").map(t => (t._2, t._3))
    val queries = vectors("queries.tsv").groupBy(_._1).map { case (b, vs) => b -> vs.map(t => (t._2, t._3)) }
    val appends = vectors("appends.tsv").groupBy(_._1).map { case (b, vs) => b -> vs.map(t => (t._2, t._3)) }
    val sequence = lines("ops.txt")
    val kinds = sequence.map(_.split(" ")(0)).distinct

    def frame(rows: Seq[(Long, Array[Double])]): DataFrame =
      spark.createDataFrame(rows).toDF("vec_id", "embedding")

    val roots = (0 until 3).map(i => work.resolve(s"index-$i").toString)
    val (buildS, _) = timedReps(3)(i => KnnGraph.buildKnnGraphIndex(frame(base), roots(i), numEntries = Entries))
    val root = roots(2)

    /** Runs one op of the sequence against `at`; checks when `live` is given. */
    def step(line: String, at: String, traced: Boolean, live: Option[Live]): Op = {
      val (kind, arg) = line.span(_ != ' ') match { case (k, rest) => (k, rest.trim) }
      val logsBefore = if (traced && rec.tracing) logEntries(at) else 0L
      val (o, res) = rec.op(kind, traced) { o =>
        kind match {
          case "search" =>
            rec.span("knng.search") {
              KnnGraph.knnGraphSearchFor(spark, at, frame(queries(arg.toInt)), K, Beam, Hops).collect()
                .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
            }
          case "append" =>
            rec.span("knng.append")(KnnGraph.appendKnnGraphIndex(frame(appends(arg.toInt)), at))
          case "delete" =>
            val ids = arg.split(",").map(_.toLong).toSeq
            rec.span("tomb.delete")(KnnGraph.deleteFromKnnGraphIndex(
              spark.createDataFrame(ids.map(Tuple1(_))).toDF("vec_id"), at))
          case "maintain" =>
            val c0 = System.nanoTime()
            rec.span("knng.consolidate")(KnnGraph.consolidateKnnGraphIndex(spark, at))
            val c1 = System.nanoTime()
            val reclaimed = rec.span("manifest.vacuum")(IndexManifest.vacuumIndex(spark, at))
            o.extra("consolidate_ms") = (c1 - c0) / 1e6
            o.extra("vacuum_ms") = (System.nanoTime() - c1) / 1e6
            o.extra("reclaimed_dirs") = reclaimed
            reclaimed
        }
      }
      if (traced && rec.tracing) o.extra("commits") = logEntries(at) - logsBefore
      for (l <- live) (kind, res) match {
        case ("search", Some(rows: Array[(Long, Long, Long, Long)] @unchecked)) =>
          l.score(queries(arg.toInt), rows, o)
        case ("append", Some(_)) => l.add(appends(arg.toInt))
        case ("delete", Some(_)) => l.remove(arg.split(",").map(_.toLong).toSeq)
        case _ =>
      }
      o
    }

    // warm-up: the first search, append and maintenance, on a spare index,
    // unchecked (a delete is one small commit, warmed by the append's)
    val warmStart = rec.now
    Seq("search", "append", "maintain").foreach(k =>
      step(sequence.find(_.split(" ")(0) == k).get, roots(0), traced = false, live = None))
    rec.ops.clear()
    val warmS = (rec.now - warmStart) / 1000.0
    rec.values("setup_parts_s") = Map("build" -> buildS, "warm" -> warmS)
    rec.values("setup_in_jvm_s") = buildS + warmS
    roots.take(2).foreach(r => graft.TempDirs.deleteRecursively(Path.of(r)))

    val live = new Live(base)
    rec.mark("before-window")
    val gc0 = rec.gcMs
    val w0 = rec.now
    var i = 0
    val seen = mutable.ArrayBuffer.empty[String]
    val members = mutable.ArrayBuffer.empty[Double]
    while ((rec.now - w0 < windowMs || !kinds.forall(seen.contains)) && i < sequence.size) {
      // a traced run leaves every other search untraced, for the overhead
      val isSearch = sequence(i).startsWith("search")
      val traced = !isSearch || seen.count(_ == "search") % 2 == 0
      val o = step(sequence(i), root, traced, Some(live))
      seen += o.kind
      if (o.traced && o.kind == "search")
        members += Seq("vectors", "graph").map(m =>
          new CommitTable(spark, s"$root/$m", "v").fileStats().count().toDouble).sum / 2
      i += 1
    }
    finishWindow(gc0, w0)
    rec.values("ops_in_sequence") = i
    rec.values("stored_bytes") = treeBytes(Path.of(root))
    rec.values("live_payload_bytes") = live.size.toLong * live.dim * 8L
    rec.values("files_per_member") = members.toSeq
  }

  /** Commit-log entries under every member table of the index. */
  def logEntries(root: String): Long =
    Members.map(m => Path.of(root, m, "_log")).filter(Files.isDirectory(_)).map { d =>
      val s = Files.list(d)
      try s.iterator().asScala.count(_.getFileName.toString.matches("\\d{20}\\.json")).toLong finally s.close()
    }.sum

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }

  /** The live vectors and the exact answers a search is scored against. */
  final class Live(init: Seq[(Long, Array[Double])]) {
    private val vecs = mutable.LinkedHashMap.empty[Long, (Array[Double], Double)]
    add(init)
    def size: Int = vecs.size
    def dim: Int = vecs.head._2._1.length

    def add(rows: Seq[(Long, Array[Double])]): Unit =
      rows.foreach { case (id, v) => vecs(id) = (v, math.sqrt(dot(v, v))) }
    def remove(ids: Seq[Long]): Unit = ids.foreach(vecs.remove)

    private def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }

    private def cos(q: Array[Double], qn: Double, id: Long): Double = {
      val (v, n) = vecs(id)
      dot(q, v) / (qn * n)
    }

    /** Checks one search batch's rows (query, neighbor, rank, cos_1e6) and
      * records its mean recall@K against the exact top-K. */
    def score(batch: Seq[(Long, Array[Double])], rows: Array[(Long, Long, Long, Long)], o: Op): Unit = {
      val got = rows.groupBy(_._1)
      val recalls = batch.map { case (qid, q) =>
        val qn = math.sqrt(dot(q, q))
        val mine = got.getOrElse(qid, Array.empty).sortBy(_._3)
        val want = vecs.keys.toSeq.map(id => (id, cos(q, qn, id)))
          .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1)
        if (mine.length != math.min(K, vecs.size))
          o.fail(s"query $qid returned ${mine.length} neighbors, expected ${math.min(K, vecs.size)}")
        mine.foreach { case (_, nb, _, c1e6) =>
          if (!vecs.contains(nb)) o.fail(s"query $qid returned $nb, which is not live")
          else if (math.abs(math.floor(cos(q, qn, nb) * 1e6).toLong - c1e6) > 1)
            o.fail(s"query $qid: cosine of $nb is wrong")
        }
        if (mine.map(_._3).toSeq != (1L to mine.length.toLong))
          o.fail(s"query $qid: ranks are not 1..${mine.length}")
        if (mine.map(_._4).toSeq != mine.map(_._4).toSeq.sorted.reverse)
          o.fail(s"query $qid: results are not ordered by cosine")
        mine.map(_._2).toSet.intersect(want.toSet).size.toDouble / K
      }
      val recall = recalls.sum / recalls.size
      o.extra("recall") = recall
      if (recall < RecallFloor) o.fail(f"batch recall@$K $recall%.2f is below $RecallFloor")
    }
  }
}
