package graft

/** Deterministic edge-list files in the shape of the paper's inputs
  * (SURVEY.md §1.1): one `src dst` pair per line, space-separated 9-digit
  * node ids, with exact-duplicate and reversed edges mixed in, so readers
  * and triangle operators meet multi-edges. The same arguments write the
  * same bytes in every JVM (`scala.util.Random` is a seeded LCG). */
object EdgeListFixture {

  /** Write `nEdges` lines over `nNodes` distinct ids to a per-process
    * [[RunDirs]] file `<name>.txt` and return its path. Every 10th line
    * repeats an earlier edge verbatim and every 7th line reverses an
    * earlier edge; the rest join two distinct random nodes. */
  def write(name: String, nEdges: Int, nNodes: Int, seed: Long): String = {
    require(nNodes >= 2 && nNodes <= 900000000, s"nNodes $nNodes out of range")
    // i ↦ 7919·i + seed (mod 9·10^8) is a bijection (7919 is prime and
    // coprime to 9·10^8), so the ids are distinct and all have 9 digits
    val ids = Array.tabulate(nNodes)(i =>
      100000000L + Math.floorMod(7919L * i + seed, 900000000L))
    val rnd = new scala.util.Random(seed)
    val edges = new Array[(Long, Long)](nEdges)
    for (j <- 0 until nEdges) {
      edges(j) =
        if (j > 0 && j % 10 == 9) edges(rnd.nextInt(j))
        else if (j > 0 && j % 7 == 6) edges(rnd.nextInt(j)).swap
        else {
          val a = rnd.nextInt(nNodes)
          val b = (a + 1 + rnd.nextInt(nNodes - 1)) % nNodes
          (ids(a), ids(b))
        }
    }
    val sb = new StringBuilder
    edges.foreach { case (a, b) => sb.append(a).append(' ').append(b).append('\n') }
    val path = RunDirs.dir("edge-fixtures").resolve(s"$name.txt")
    java.nio.file.Files.writeString(path, sb.toString)
    path.toString
  }
}
