package graft.functions

import java.util.Base64
import javax.crypto.spec.{IvParameterSpec, PBEKeySpec, SecretKeySpec}
import javax.crypto.{Cipher, Mac, SecretKeyFactory}

/** Deterministic AEAD (SIV-style) message wrapping for the watermark
  * payload.
  *
  * Mirrors the reference's wire surface (reference: database/pgvector/
  * pg_func.py:585-734): a 16-char plaintext is encrypted with a
  * PBKDF2-SHA256-derived key (100k iterations, fixed salt) into
  * 16 ct bytes + 8 tag bytes = 24 bytes, base64 → exactly 32 chars,
  * which are then partitioned into 16 blocks × 16 payload bits.
  *
  * Construction difference: the reference uses AES-GCM with a random
  * per-call nonce returned to the caller; a distributed, re-runnable
  * pipeline needs determinism. A fixed (key, nonce) GCM pair would
  * reuse the CTR keystream across distinct messages, so instead the
  * tag IS the nonce, SIV-style (cf. RFC 5297 / AES-GCM-SIV):
  *   siv  = HMAC-SHA256(K_mac, plaintext)[0..8)   — the 8-byte tag
  *   ct   = AES-CTR(K_enc, iv = siv ‖ counter, plaintext)
  *   out  = base64(ct ‖ siv)
  * Distinct messages under one password get distinct keystreams, and
  * decryption authenticates by recomputing the HMAC over the decrypted
  * plaintext (misuse-resistant: determinism only reveals message
  * equality, never keystream reuse).
  */
object Crypto {
  // The `_v1` suffix in these PBKDF2 domain strings IS the wire-format
  // version label: any future change to the AEAD construction must bump
  // it (v2, ...), which re-keys both directions, so a decrypt of data
  // written under a different format version fails its tag check
  // deterministically instead of yielding garbage. Note the round-1
  // prototype's derived-nonce GCM format (never persisted by any
  // released artifact) is NOT decryptable by this v1 SIV/CTR format —
  // the 24-byte wire layout is unchanged but the construction differs;
  // an AEADBadTagException on old ciphertext means "wrong format or
  // destroyed watermark" and the version label is how future formats
  // keep those distinguishable.
  private val Salt = "graft_wm_salt_v1".getBytes("UTF-8")
  private val MacSalt = "graft_wm_mac_v1".getBytes("UTF-8")
  private val Iterations = 100000
  /** 8-byte tag, as in the reference (mac_len=8). */
  private val TagBytes = 8

  def pbkdf2(password: String, salt: Array[Byte], bits: Int): Array[Byte] = {
    val spec = new PBEKeySpec(password.toCharArray, salt, Iterations, bits)
    SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(spec).getEncoded
  }

  /** The (AES, HMAC) keys of each password, derived once per JVM: a
    * derivation is 2 × 100,000 PBKDF2 rounds, and every encrypt and
    * decrypt needs both keys. */
  private val keys = new java.util.concurrent.ConcurrentHashMap[String, (SecretKeySpec, SecretKeySpec)]()
  /** Key pairs derived so far in this JVM. */
  private[graft] val derivations = new java.util.concurrent.atomic.AtomicLong()

  private def keysOf(password: String): (SecretKeySpec, SecretKeySpec) =
    keys.computeIfAbsent(password, p => {
      derivations.incrementAndGet()
      (new SecretKeySpec(pbkdf2(p, Salt, 256), "AES"),
        new SecretKeySpec(pbkdf2(p, MacSalt, 256), "HmacSHA256"))
    })
  private def encKey(password: String) = keysOf(password)._1
  private def macKey(password: String) = keysOf(password)._2

  /** siv = first 8 bytes of HMAC-SHA256(K_mac, pt). */
  private def siv(password: String, pt: Array[Byte]): Array[Byte] = {
    val m = Mac.getInstance("HmacSHA256")
    m.init(macKey(password))
    m.doFinal(pt).take(TagBytes)
  }

  /** AES-CTR with iv = siv ‖ 8-byte big-endian counter starting at 1
    * (CTR is its own inverse, so this both encrypts and decrypts). */
  private def ctr(password: String, iv8: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val iv16 = iv8 ++ Array[Byte](0, 0, 0, 0, 0, 0, 0, 1)
    val c = Cipher.getInstance("AES/CTR/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, encKey(password), new IvParameterSpec(iv16))
    c.doFinal(data)
  }

  /** 16-char plaintext → 32-char base64 ciphertext (16 ct + 8 tag bytes). */
  def encryptToBase64(plaintext: String, password: String): String = {
    val pt = plaintext.getBytes("UTF-8")
    require(pt.length == 16, s"plaintext must be 16 bytes, got ${pt.length}")
    val tag = siv(password, pt)
    val ct = ctr(password, tag, pt)
    val b64 = Base64.getEncoder.encodeToString(ct ++ tag)
    assert(b64.length == 32, s"expected 32 b64 chars, got ${b64.length}")
    b64
  }

  /** Inverse of [[encryptToBase64]]: decrypt with the transmitted siv as
    * IV, then authenticate by recomputing the HMAC over the plaintext
    * (constant-time compare). Throws AEADBadTagException on a wrong
    * password or corrupted bits. */
  def decryptFromBase64(b64: String, password: String): String = {
    require(b64.length == 32, "ciphertext must be 32 b64 chars")
    val raw = Base64.getDecoder.decode(b64)
    val (ct, tag8) = raw.splitAt(16)
    val pt = ctr(password, tag8, ct)
    if (!java.security.MessageDigest.isEqual(siv(password, pt), tag8))
      throw new javax.crypto.AEADBadTagException("tag mismatch")
    new String(pt, "UTF-8")
  }

  // ---------------------------------------------------------------- //
  // Caller-supplied-nonce overloads — reference API parity
  // ---------------------------------------------------------------- //

  private def parseNonce(nonceHex: String): Array[Byte] = {
    require(nonceHex.length == 16 && nonceHex.forall(c =>
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')),
      "nonce must be 16 lowercase hex chars (8 bytes)")
    nonceHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }

  /** Reference-parity nonce surface (reference: database/pgvector/
    * pg_func.py:479-516 returns (ciphertext, nonce); extract_watermark
    * accepts nonce_hex at pg_func.py:723): encrypt under a
    * CALLER-SUPPLIED 8-byte nonce (16 lowercase hex chars) instead of
    * the plaintext-derived SIV. The nonce becomes the CTR IV; the
    * 8-byte tag is the HMAC over (nonce ‖ plaintext), so
    * authentication binds both and a wrong nonce fails the tag check
    * like a wrong key. Wire shape is unchanged (16 ct + 8 tag bytes =
    * 32 base64 chars), so the block partitioner downstream is
    * agnostic. Nonce uniqueness is the CALLER's contract (as with
    * GCM); the no-nonce SIV form remains the pipeline default because
    * a distributed re-runnable embed needs determinism. */
  def encryptToBase64(plaintext: String, password: String, nonceHex: String): String = {
    val pt = plaintext.getBytes("UTF-8")
    require(pt.length == 16, s"plaintext must be 16 bytes, got ${pt.length}")
    val nonce = parseNonce(nonceHex)
    val m = Mac.getInstance("HmacSHA256")
    m.init(macKey(password))
    val tag = m.doFinal(nonce ++ pt).take(TagBytes)
    val ct = ctr(password, nonce, pt)
    val b64 = Base64.getEncoder.encodeToString(ct ++ tag)
    assert(b64.length == 32, s"expected 32 b64 chars, got ${b64.length}")
    b64
  }

  /** Inverse of the nonce overload: decrypt with the supplied nonce as
    * CTR IV, authenticate HMAC(nonce ‖ plaintext). */
  def decryptFromBase64(b64: String, password: String, nonceHex: String): String = {
    require(b64.length == 32, "ciphertext must be 32 b64 chars")
    val nonce = parseNonce(nonceHex)
    val raw = Base64.getDecoder.decode(b64)
    val (ct, tag8) = raw.splitAt(16)
    val pt = ctr(password, nonce, ct)
    val m = Mac.getInstance("HmacSHA256")
    m.init(macKey(password))
    if (!java.security.MessageDigest.isEqual(m.doFinal(nonce ++ pt).take(TagBytes), tag8))
      throw new javax.crypto.AEADBadTagException("tag mismatch")
    new String(pt, "UTF-8")
  }
}

/** CRC-4 (poly 0x3) over 4 message-index bits — the per-vector header
  * integrity check (reference: database/pgvector/pg_func.py:40-50).
  * Only 16 inputs exist, so both engines consume it as an inlined
  * 16-entry lookup table (see Queries.crc4Table).
  */
object Crc4 {
  def apply(idx: Int): Int = {
    require(idx >= 0 && idx < 16)
    val bits = (3 to 0 by -1).map(i => (idx >> i) & 1)
    var reg = 0
    for (bit <- bits) {
      reg ^= bit << 3
      for (_ <- 0 until 4)
        reg = if ((reg & 0x8) != 0) ((reg << 1) & 0xF) ^ 0x3 else (reg << 1) & 0xF
    }
    reg
  }
  /** crc4 of 0..15, for inlining as a SQL array literal. */
  def tableValues: Seq[Int] = (0 until 16).map(apply)
}
