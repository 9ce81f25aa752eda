package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}

/** Locates the data files the specs load.
  *
  * The reference's small fixtures (`testdata.nq`, `testdata_multigraph.nq`,
  * `people.jsonld`; see FIXTURES.md) are committed under
  * `src/test/resources/data/` and resolve through [[data]]. The 30k-movie
  * dump and the LinkedQL `test-cases` tree are too large or cannot be
  * rebuilt, so they are read from the reference checkout through
  * [[reference]].
  */
object TestFixtures {

  /** Filesystem path of the committed fixture `data/<name>`. The loaders
    * (`Graph.fromNQuads`, `Formats.readJsonLd`, `Files.readString`) take
    * paths, so the classpath resource is resolved to its file.
    */
  def data(name: String): String = {
    val url = getClass.getResource(s"/data/$name")
    if (url == null) throw new FileNotFoundException(
      s"test fixture data/$name is not on the test classpath " +
        s"(expected at src/test/resources/data/$name)")
    Paths.get(url.toURI).toString
  }

  /** Path of `<reference checkout>/<rel>`, a file or directory that only
    * the reference holds. Fails, naming the file, when it is absent.
    */
  def reference(rel: String): String = {
    val p = Paths.get("/root/reference", rel)
    if (!Files.exists(p)) throw new FileNotFoundException(
      s"$p is missing: $rel is reference-only data, not kept in this " +
        "repository")
    p.toString
  }
}
