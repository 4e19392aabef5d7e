package graft.cluster

/** The benchmark's handle on the package-private union-find kernel. */
object UnionFindProbe {
  def minLabelsLong(src: Array[Long], dst: Array[Long]): (Array[Long], Array[Long]) =
    UnionFind.minLabelsLong(src, dst)
}
