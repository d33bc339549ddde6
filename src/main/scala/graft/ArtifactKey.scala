package graft

/** The ONE keying scheme for persisted derived artifacts, and the one
  * store root ([[root]]) every content-stamped store under target/ is
  * built at, so the stores cannot drift apart (copies of this logic
  * have: one stamped through a bare default Hadoop `Configuration`,
  * which breaks on any filesystem that needs session conf to resolve,
  * e.g. s3a credentials via `spark.hadoop.*`; another never deleted
  * its superseded stamps).
  *
  * Key anatomy: `<basename>_<pathMd5.8hex>[_<contentStamp>]`
  *  - basename: human-readable (which corpus is this?)
  *  - path hash: two corpora at different paths sharing a directory name
  *    must not serve each other's artifact
  *  - content stamp ([[ContentStamp]]): a corpus REGENERATED at the same
  *    path must force a rebuild — indexed searches rescore against the
  *    artifact's OWN persisted data, so no gate over the caller's corpus
  *    can catch a stale artifact
  */
private[graft] object ArtifactKey {

  /** `<basename>_<pathMd5.8hex>` — the location-identity part of a key.
    * The path is normalized lexically (`toAbsolutePath.normalize`, no
    * filesystem access) so `/x/corpus` and `/x/./corpus` key the SAME
    * artifact — `File.getAbsolutePath` keeps dot segments, which would
    * build a duplicate full-size artifact per spelling of one source.
    */
  def pathKey(dir: String): String = {
    val norm = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(norm.toString.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    String.valueOf(norm.getFileName).replaceAll("[^A-Za-z0-9_]", "_") + "_" + hex
  }

  /** [[pathKey]] + content stamp. Pass the SESSION Hadoop conf
    * (`spark.sessionState.newHadoopConf()`) wherever a session is in
    * scope — a bare `Configuration` only resolves filesystems that need
    * no conf (local, unauthenticated HDFS); the stores' `root`/`drop`
    * default to one for callers with no live session.
    */
  private def stamped(dir: String, hadoopConf: org.apache.hadoop.conf.Configuration): String =
    pathKey(dir) + "_" + ContentStamp(dir, hadoopConf)

  /** Recursive local delete (artifact stores live under target/). */
  def rmRecursive(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmRecursive)
    f.delete(): Unit
  }

  /** Delete SUPERSEDED artifact directories: siblings of `keep` under
    * `parent` whose name starts with `prefix` (same source identity) but
    * is not `keep` itself (older content stamps / bucket derivations).
    * Without this, every source regeneration strands a full-size
    * artifact copy forever and the store grows without bound. Called on
    * the cold-build path only — a reused artifact never pays a listing.
    */
  def dropSuperseded(parent: java.io.File, prefix: String, keep: String): Unit =
    Option(parent.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith(prefix) && f.getName != keep)
      .foreach(rmRecursive)

  /** The store root `target/<kind>/<version>/`[[stamped]]`(src)/<variant>`
    * — the one layout of every content-stamped artifact under target/.
    * `variant` (subset, geometry, bucket count, …) may span several
    * directory levels; every variant of one stamp shares the stamped
    * directory, and a change of stamp moves all of them at once.
    */
  def root(kind: String, version: String, src: String, variant: String,
           hadoopConf: org.apache.hadoop.conf.Configuration): java.io.File =
    new java.io.File(s"target/$kind/$version/${stamped(src, hadoopConf)}/$variant")
      .getAbsoluteFile

  /** [[dropSuperseded]] for a [[root]]: deletes the stamped directories
    * of the same source's other content stamps, with every variant in
    * them (they are slices of the same now-stale content).
    */
  def dropSuperseded(root: java.io.File): Unit = {
    val target = new java.io.File("target").getAbsoluteFile.toPath
    val rel = target.relativize(root.toPath)
    require(rel.getNameCount > 3 && !rel.startsWith(".."), s"$root is not an ArtifactKey.root")
    val stampedDir = target.resolve(rel.subpath(0, 3)).toFile
    val name = stampedDir.getName // <pathKey>_<stamp>; a stamp has no '_'
    dropSuperseded(stampedDir.getParentFile, name.take(name.lastIndexOf('_') + 1), name)
  }
}
