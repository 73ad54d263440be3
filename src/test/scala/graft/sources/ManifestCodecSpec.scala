package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable.VManifest

/** The `manifests/v<N>.json` and `refs-v<N>.json` codecs against literal
  * text in the on-disk format: decoding yields the recorded fields,
  * re-encoding yields the same bytes, and keys a manifest predates read
  * as empty.
  */
class ManifestCodecSpec extends AnyFunSuite {

  private val manifestText =
    """{"version":12,""" +
      """"leaves":["data/add-v3-1a2b3c4d/id_bucket__p=0",""" +
      """"data/add-v12-5e6f7a8b/id_bucket__p=3"],""" +
      """"deletes":["deletes/del-v11-9c0d1e2f"],""" +
      """"dirty":["data/add-v3-1a2b3c4d/id_bucket__p=0"],""" +
      """"txns":["ingest=batch-0007"],""" +
      """"schema":["id:bigint","label:string:label_v0:%27none%27",""" +
      """"amount:double"],""" +
      """"partcol":["bucket%284%2Cid%29"],""" +
      """"constraints":["pos:amount+%3E%3D+0"],""" +
      """"format":["parquet","rowtracking"],""" +
      """"op":["update","id","label"]}"""

  test("a manifest decodes to its recorded fields") {
    val m = VersionedTable.decodeManifest(manifestText)
    assert(m === VManifest(
      leaves = Seq("data/add-v3-1a2b3c4d/id_bucket__p=0",
        "data/add-v12-5e6f7a8b/id_bucket__p=3"),
      deletes = Seq("deletes/del-v11-9c0d1e2f"),
      dirty = Seq("data/add-v3-1a2b3c4d/id_bucket__p=0"),
      txns = Seq("ingest=batch-0007"),
      schema = Seq("id:bigint", "label:string:label_v0:%27none%27",
        "amount:double"),
      partcol = Seq("bucket(4,id)"),
      constraints = Seq("pos:amount+%3E%3D+0"),
      format = Seq("parquet", "rowtracking"),
      op = Seq("update", "id", "label")))
    assert(m.specOpt === Some("bucket(4,id)"))
    assert(m.fmt === "parquet" && m.rowTracking)
    assert(m.colMap === Map("label" -> "label_v0"))
    assert(m.colDefaults === Map("label" -> "'none'"))
    assert(m.constraintPairs === Seq(("pos", "amount >= 0")))
    assert(m.opKeys === Some(("update", Seq("id", "label"))))
  }

  test("re-encoding a decoded manifest gives identical bytes") {
    val m = VersionedTable.decodeManifest(manifestText)
    assert(VersionedTable.encodeManifest(12, m) === manifestText)
  }

  test("a manifest older than the later keys reads them as empty") {
    val m = VersionedTable.decodeManifest(
      """{"version":0,"leaves":["data/add-v0-00000000/pdate__p=2024-01-01"],""" +
        """"deletes":[],"dirty":[]}""")
    assert(m === VManifest(Seq("data/add-v0-00000000/pdate__p=2024-01-01")))
    assert(m.specOpt.isEmpty && m.schemaOpt.isEmpty && m.opKeys.isEmpty)
    assert(m.fmt === "parquet" && !m.rowTracking)
  }

  test("entries carrying JSON separators and escapes round-trip") {
    val m = VManifest(
      leaves = Seq("data/add-v1-0a0b0c0d/p__p=a,b", "x\"y]", "back\\slash"),
      txns = Seq("tab\there"), partcol = Seq("p"))
    assert(VersionedTable.decodeManifest(
      VersionedTable.encodeManifest(1, m)) === m)
  }

  private val refsText = """{"refs":["rel-1.0:tag:3","audit:branch:5"]}"""

  test("a refs file decodes in file order and re-encodes to identical " +
      "bytes") {
    val refs = VersionedTable.decodeRefs(refsText)
    assert(refs === Seq(("rel-1.0", "tag", 3), ("audit", "branch", 5)))
    assert(VersionedTable.encodeRefs(refs) === refsText)
    assert(VersionedTable.decodeRefs("""{"refs":[]}""").isEmpty)
    assert(VersionedTable.encodeRefs(Nil) === """{"refs":[]}""")
  }
}
