package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Crypto

/** The AEAD keys of a password are derived once per JVM: PBKDF2 runs
  * 100,000 rounds per key, and a verify decrypts once per attacked
  * copy. */
class CryptoKeyCacheSpec extends AnyFunSuite {

  test("a second decrypt under the same password derives no new key") {
    val pw = s"key-cache-${System.nanoTime()}"
    val before = Crypto.derivations.get
    val ct = Crypto.encryptToBase64("GRAFT WATERMARK!", pw)
    assert(Crypto.derivations.get == before + 1, "the first use derives the password's keys")
    val derived = Crypto.derivations.get
    assert(Crypto.decryptFromBase64(ct, pw) == "GRAFT WATERMARK!")
    assert(Crypto.decryptFromBase64(ct, pw) == "GRAFT WATERMARK!")
    assert(Crypto.derivations.get == derived)
    intercept[javax.crypto.AEADBadTagException](Crypto.decryptFromBase64(ct, pw + "x"))
  }
}
