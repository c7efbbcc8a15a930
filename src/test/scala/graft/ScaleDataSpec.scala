package graft

import java.nio.ByteBuffer
import java.security.MessageDigest

/** The planted counts of the `Probe scale` rehearsals are seed
  * arithmetic over these generators' bytes, so the bytes are pinned. */
class ScaleDataSpec extends SparkSpec {

  private def sha(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def floats(v: Array[Float]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 * v.length)
    v.foreach(bb.putFloat(_))
    bb.array
  }

  test("generators reproduce the pinned SHA-256 digests") {
    assert(sha(ScaleData.img(7, patch = false)) ==
      "5031a999a5487e6c3d13135fd9b0743ae77a91346633025f30b044dc994dffa9")
    assert(sha(ScaleData.img(7, patch = true)) ==
      "08afd6166c77cf7add1ac2b81d16c7580fa41f05b9c5bffd3d48725da49bc8df")
    assert(sha(ScaleData.text(3, near = false).getBytes("UTF-8")) ==
      "7029ef4d9c0bb42e90e67d67dc41c79e13f1e530bbdb9eac24b86397d50142ee")
    assert(sha(ScaleData.text(3, near = true).getBytes("UTF-8")) ==
      "85666f2135ac14f27c6ee7ebc9c4c8840caab06aede63dcc2e105877fcb029d2")
    assert(sha(floats(ScaleData.emb(5, near = false))) ==
      "51746c62b3955fa129c11e45f9d6024e7032a633786f1ec633fcd495ac3233d9")
    assert(sha(floats(ScaleData.emb(5, near = true))) ==
      "8d0d49d0c9c6336e00b98ddeabeb9acd65e024181c67c46d792f3c98fc342216")
    val rows = ScaleData.cube(spark, 0, 2, 0.0)
      .orderBy("time", "latitude", "longitude").collect()
    assert(rows.length == 2 * 112 * 112)
    val bb = ByteBuffer.allocate(32 * rows.length)
    rows.foreach { r =>
      bb.putLong(r.getLong(0)); bb.putDouble(r.getDouble(1))
      bb.putDouble(r.getDouble(2)); bb.putDouble(r.getDouble(3))
    }
    assert(sha(bb.array) ==
      "ed908c63172a34b15157b8c0530525a21da6d7534d1a0d706a9681726866c2aa")
  }
}
