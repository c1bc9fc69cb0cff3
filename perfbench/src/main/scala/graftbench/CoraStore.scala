package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator for a CORA-shaped partitioned graph store, written in
  * the reference's raw formats (FIXTURES.md §3-4):
  *
  *  - `{gid}_{pid}`: whitespace-separated `src dst` edges inside a partition;
  *  - `{gid}_attributes_{pid}`: tab-separated `id, f1..fF, label` rows;
  *  - `{gid}_centralstore_{pid}`: the partition's cut edges;
  *  - `{gid}_centralstore_attributes_{pid}`: attributes of every endpoint of
  *    those cut edges, the partition's own nodes included, so the merge's
  *    keep-first priority has overlapping ids to resolve.
  *
  * Node ids are non-dense. Classes are planted: each class has its own topic
  * words and most edges join nodes of one class, so link prediction carries
  * signal. Equal seeds give byte-identical files.
  */
object CoraStore {

  val Labels: Seq[String] = Seq("Case_Based", "Genetic_Algorithms",
    "Neural_Networks", "Probabilistic_Methods", "Reinforcement_Learning",
    "Rule_Learning", "Theory")

  /** The shape of the reference's `data4` graph 3 — CORA's 1,433 binary
    * features and 7 classes over 4 partitions, about 2 edges per node — at
    * half of CORA's 2,708 nodes, so a session fits the benchmark's run.
    */
  val Parts = 4
  private val Nodes = 1354
  private val Features = 1433
  private val EdgesPerNode = 2.0
  private val CutShare = 0.06
  private val SameClass = 0.85
  private val TopicWords = 60
  private val WordsPerNode = 18

  /** What was written: ids per partition, and the row counts the merge
    * scans (local plus centralstore attribute rows) and should keep.
    */
  final case class Store(dir: String, graphId: String, pids: Seq[String],
                         localIds: Seq[Seq[Long]], centralIds: Seq[Seq[Long]]) {
    def allIds: Set[Long] = localIds.flatten.toSet
    def nodeRowsScanned: Long = localIds.map(_.size.toLong).sum + centralIds.map(_.size.toLong).sum
    /** Distinct ids per partition after keep-first dedup, summed. */
    def nodeRowsKept: Long = localIds.zip(centralIds).map { case (l, c) =>
      (l.toSet ++ c).size.toLong }.sum
  }

  def generate(dir: File, graphId: String, seed: Long): Store = {
    val rnd = new SplittableRandom(seed)
    val seen = mutable.HashSet.empty[Long]
    val ids = Array.fill(Nodes) {
      var v = 0L
      while ({ v = 35L + rnd.nextLong(1200000L); !seen.add(v) }) ()
      v
    }
    val cls = Array.fill(Nodes)(rnd.nextInt(Labels.size))
    val part = Array.tabulate(Nodes)(_ % Parts)
    val topics = Array.fill(Labels.size)(Array.fill(TopicWords)(rnd.nextInt(Features)))
    val feats = Array.tabulate(Nodes) { i =>
      val on = new java.util.BitSet(Features)
      for (w <- 0 until WordsPerNode) {
        val f = if (w < WordsPerNode * 2 / 3) topics(cls(i))(rnd.nextInt(TopicWords))
                else rnd.nextInt(Features)
        on.set(f)
      }
      on
    }
    val byPart = (0 until Parts).map(p => (0 until Nodes).filter(part(_) == p).toArray)
    val byPartClass = Array.tabulate(Parts, Labels.size)((p, c) =>
      byPart(p).filter(cls(_) == c))
    val edges = mutable.LinkedHashSet.empty[(Int, Int)]
    val target = (Nodes * EdgesPerNode).toInt
    while (edges.size < target) {
      val s = rnd.nextInt(Nodes)
      val t =
        if (rnd.nextDouble() < CutShare) {
          val others = byPart((part(s) + 1 + rnd.nextInt(Parts - 1)) % Parts)
          others(rnd.nextInt(others.length))
        } else if (rnd.nextDouble() < SameClass && byPartClass(part(s))(cls(s)).length > 1) {
          val pool = byPartClass(part(s))(cls(s))
          pool(rnd.nextInt(pool.length))
        } else byPart(part(s))(rnd.nextInt(byPart(part(s)).length))
      if (s != t && !edges.contains((t, s))) edges += ((s, t))
    }

    dir.mkdirs()
    def attrLine(i: Int): String = {
      val sb = new StringBuilder().append(ids(i))
      var f = 0
      while (f < Features) { sb.append('\t').append(if (feats(i).get(f)) '1' else '0'); f += 1 }
      sb.append('\t').append(Labels(cls(i))).toString
    }
    def edgeLine(e: (Int, Int)): String = s"${ids(e._1)} ${ids(e._2)}"
    val pids = (0 until Parts).map(_.toString)
    val written = (0 until Parts).map { p =>
      val local = edges.filter(e => part(e._1) == p && part(e._2) == p).toSeq
      val cut = edges.filter(e => part(e._1) != part(e._2) &&
        (part(e._1) == p || part(e._2) == p)).toSeq
      val centralNodes = cut.flatMap(e => Seq(e._1, e._2)).distinct
      write(new File(dir, s"${graphId}_$p"), local.map(edgeLine))
      write(new File(dir, s"${graphId}_attributes_$p"), byPart(p).toSeq.map(attrLine))
      write(new File(dir, s"${graphId}_centralstore_$p"), cut.map(edgeLine))
      write(new File(dir, s"${graphId}_centralstore_attributes_$p"), centralNodes.map(attrLine))
      (byPart(p).toSeq.map(ids(_)), centralNodes.map(ids(_)))
    }
    Store(dir.getPath, graphId, pids, written.map(_._1), written.map(_._2))
  }

  private def write(f: File, lines: Seq[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
