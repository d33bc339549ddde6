package graft

/** The ONE keying scheme for persisted derived artifacts (bucketed
  * mirrors, IVF/SRP indexes), so the three artifact stores cannot drift
  * apart (each had grown its own copy of this logic — and two of the
  * copies stamped through a bare default Hadoop `Configuration`, which
  * breaks on any filesystem that needs session conf to resolve, e.g.
  * s3a credentials supplied via `spark.hadoop.*`).
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
    * scope — the default only resolves filesystems that need no conf
    * (local, unauthenticated HDFS) and exists for driver-side utilities
    * (drop/root) that run where no session is live.
    */
  def stamped(dir: String,
              hadoopConf: org.apache.hadoop.conf.Configuration =
                new org.apache.hadoop.conf.Configuration()): String =
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

  /** [[dropSuperseded]] for a `<parent>/`[[stamped]]`(src)` directory:
    * deletes the sibling directories of `src`'s other content stamps.
    */
  def dropSuperseded(stamped: java.io.File, src: String): Unit =
    dropSuperseded(stamped.getParentFile, pathKey(src) + "_", stamped.getName)
}
