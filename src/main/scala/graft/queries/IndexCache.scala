package graft.queries

/** Shared build-once registry for persisted serving indexes (e17 SQ8,
  * e18 IVF-ADC, d29 MinHash-LSH).
  *
  * ConcurrentHashMap because its computeIfAbsent runs the mapping
  * function AT MOST ONCE per key and blocks concurrent callers until it
  * returns — Scala's TrieMap.getOrElseUpdate evaluates the by-name
  * builder OUTSIDE the atomic insert, so two first callers could both
  * run the overwrite build while one of them scans (ADVICE r13).
  */
object IndexCache {
  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, Unit]()

  /** Run `build` exactly once per JVM for `path`, then return. Every
    * build logs its wall-clock split to stderr (`[tag] index build N s`)
    * so a driver bench headline dominated by a one-off index build is
    * self-explaining from the BENCH tail — the d29 pattern, generalized
    * (VERDICT r16 #6). Serve-side cost is then the query's remainder. */
  def ensure(path: String, tag: String = "index")(build: => Unit): Unit =
    built.computeIfAbsent(path, _ => {
      val t0 = System.nanoTime()
      build
      System.err.println(
        f"[$tag] index build ${(System.nanoTime() - t0) / 1e9}%.2f s")
      ()
    })

  private val paths = new java.util.concurrent.ConcurrentHashMap[
    (String, String), String]()

  /** Tmpdir for a persisted index over the corpus at `dir`: one
    * [[graft.TmpDirs.create]] directory per JVM, `prefix` and resolved
    * corpus path. Per-JVM like the registry above, so a second process
    * never overwrite-builds an index the first is scanning (ADVICE r14);
    * TmpDirs removes the directory at exit and sweeps those of dead
    * JVMs. */
  def path(prefix: String, dir: String): String =
    paths.computeIfAbsent(
      (prefix, new java.io.File(dir).getAbsolutePath),
      _ => graft.TmpDirs.create(prefix))
}
