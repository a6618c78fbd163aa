"""PDF standard security handler (extractor/pdfcrypt.py): RC4 crypt
filter, key derivation, and the decrypt path in pdf_to_text.

Reference analogue: app/core/pandoc_converter.py accepts arbitrary
real-world PDFs, which include RC4-encrypted (owner-locked) ones.
"""
import pytest

from extractor.pdf import pdf_to_text, text_to_pdf_bytes
from extractor.pdfcrypt import (
    decryption_key,
    encrypt_pdf,
    file_key,
    object_key,
    parse_encrypt_dict,
    rc4,
)

TEXT = "encrypted page one\n" + "\n".join(f"line {i}" for i in range(60))


def test_rc4_public_vectors():
    """The three canonical published RC4 test vectors."""
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Wiki", b"pedia").hex() == "1021bf0420"
    assert (
        rc4(b"Secret", b"Attack at dawn").hex()
        == "45a01f645fc35b383552544b9bf5"
    )
    # involution: encrypt == decrypt
    assert rc4(b"k", rc4(b"k", b"data")) == b"data"


@pytest.mark.parametrize("rev,bits", [(3, 128), (2, 40), (3, 40)])
def test_encrypt_decrypt_roundtrip(rev, bits):
    plain = text_to_pdf_bytes(TEXT)
    enc = encrypt_pdf(plain, revision=rev, length_bits=bits)
    assert b"/Encrypt" in enc and enc != plain
    # stream bytes actually changed (not a no-op "encryption")
    assert b"(encrypted page one)" not in enc
    assert pdf_to_text(enc) == pdf_to_text(plain)
    # deterministic
    assert enc == encrypt_pdf(plain, revision=rev, length_bits=bits)


@pytest.mark.parametrize("filt", ["flate", "lzw-png", "a85-flate"])
def test_encrypted_and_filtered_streams(filt):
    """Crypt applies to raw stream bytes BEFORE the filter chain."""
    plain = text_to_pdf_bytes(TEXT, stream_filter=filt)
    assert pdf_to_text(encrypt_pdf(plain)) == pdf_to_text(
        text_to_pdf_bytes(TEXT)
    )


def test_wrong_password_raises_right_password_verifies():
    enc = encrypt_pdf(text_to_pdf_bytes(TEXT), user_password=b"hunter2")
    with pytest.raises(ValueError, match="password"):
        pdf_to_text(enc)
    assert decryption_key(enc, b"hunter2") is not None


def test_parse_encrypt_dict_guards():
    plain = text_to_pdf_bytes("t")
    assert parse_encrypt_dict(plain) is None
    assert decryption_key(plain) is None
    # V4 without a /CFM, and V5, are honest NotImplementedErrors
    enc = encrypt_pdf(plain)
    broken = enc.replace(b"/V 2", b"/V 4")
    with pytest.raises(NotImplementedError, match="V4 crypt filter"):
        pdf_to_text(broken)
    broken = enc.replace(b"/V 2", b"/V 5")
    with pytest.raises(NotImplementedError, match="V5 crypt filter"):
        pdf_to_text(broken)
    # non-standard handler
    broken = enc.replace(b"/Filter /Standard", b"/Filter /Custom00")
    with pytest.raises(NotImplementedError):
        pdf_to_text(broken)


def test_key_derivation_shapes():
    """Algorithm 2/per-object-key structural properties: R2 keys are
    5 bytes, R3/128 are 16; object keys extend by 5 capped at 16 and
    differ per object."""
    o = bytes(32)
    k2 = file_key(o, -3904, b"\x01" * 16, b"", 2, 40)
    k3 = file_key(o, -3904, b"\x01" * 16, b"", 3, 128)
    assert len(k2) == 5 and len(k3) == 16
    assert len(object_key(k2, 5, 0)) == 10
    assert len(object_key(k3, 5, 0)) == 16
    assert object_key(k3, 5, 0) != object_key(k3, 6, 0)
    assert object_key(k3, 5, 0) != object_key(k3, 5, 1)


def test_aes_fips197_known_answer():
    """FIPS-197 Appendix C.1 — the canonical AES-128 vector, decode
    direction included; tables are computed, this pins them."""
    from extractor.aescodec import (
        _decrypt_block,
        _encrypt_block_public,
        _expand_key,
        aes_cbc_decrypt,
        aes_cbc_encrypt,
    )

    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    assert _encrypt_block_public(key, pt) == ct
    assert _decrypt_block(ct, _expand_key(key)) == pt
    iv = bytes(range(16))
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes(range(256))[:n]
        assert aes_cbc_decrypt(
            key, iv, aes_cbc_encrypt(key, iv, data)
        ) == data
    with pytest.raises(ValueError):
        aes_cbc_decrypt(key, iv, b"\x00" * 15)  # ragged
    with pytest.raises(ValueError):
        aes_cbc_decrypt(key, iv, bytes(16))  # garbage padding byte


def test_aesv2_roundtrip():
    plain = text_to_pdf_bytes(TEXT)
    enc = encrypt_pdf(plain, method="aes")
    assert b"/CFM /AESV2" in enc and b"(encrypted page one)" not in enc
    assert pdf_to_text(enc) == pdf_to_text(plain)
    assert enc == encrypt_pdf(plain, method="aes")  # deterministic
    # filtered streams: decrypt precedes the filter chain
    pl = text_to_pdf_bytes(TEXT, stream_filter="flate")
    assert pdf_to_text(encrypt_pdf(pl, method="aes")) == pdf_to_text(
        plain
    )
    # /StmF /Length patched: streams grew by IV + padding
    assert len(enc) > len(plain)


def test_aesv2_password_and_images():
    plain = text_to_pdf_bytes(TEXT)
    locked = encrypt_pdf(plain, user_password=b"pw", method="aes")
    with pytest.raises(ValueError, match="password"):
        pdf_to_text(locked)
    assert decryption_key(locked, b"pw")[1] == "aes"


def test_mismatched_v5_cfm_is_honest():
    """V5 with a non-AESV3 crypt filter method must refuse, not
    mis-decrypt."""
    enc = encrypt_pdf(text_to_pdf_bytes("t"), method="aes")
    broken = enc.replace(b"/V 4 /R 4", b"/V 5 /R 6")
    with pytest.raises(NotImplementedError):
        pdf_to_text(broken)


def test_aes256_vectors():
    """FIPS-197 C.3 block vector + NIST SP 800-38A F.2.5 CBC vector."""
    from extractor.aescodec import (
        _decrypt_block,
        _encrypt_block_public,
        _expand_key,
        aes_cbc_decrypt,
        aes_cbc_encrypt,
    )

    k = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f"
        "101112131415161718191a1b1c1d1e1f"
    )
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    assert _encrypt_block_public(k, pt) == ct
    assert _decrypt_block(ct, _expand_key(k)) == pt
    key = bytes.fromhex(
        "603deb1015ca71be2b73aef0857d7781"
        "1f352c073b6108d72d9810a30914dff4"
    )
    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    p1 = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    c1 = aes_cbc_encrypt(key, iv, p1, pad=False)
    assert c1.hex() == "f58c4c04d6e5f1ba779eabfb5f7bfbd6"
    assert aes_cbc_decrypt(key, iv, c1, pad=False) == p1


def test_aesv3_roundtrip_and_password():
    from extractor.pdfcrypt import hash_2b

    plain = text_to_pdf_bytes(TEXT)
    enc = encrypt_pdf(plain, method="aes3")
    assert b"/CFM /AESV3" in enc and b"/UE <" in enc
    assert b"(encrypted page one)" not in enc
    assert pdf_to_text(enc) == pdf_to_text(plain)
    assert enc == encrypt_pdf(plain, method="aes3")  # deterministic
    pl = text_to_pdf_bytes(TEXT, stream_filter="flate")
    assert pdf_to_text(encrypt_pdf(pl, method="aes3")) == pdf_to_text(
        plain
    )
    locked = encrypt_pdf(plain, user_password=b"s3cret", method="aes3")
    with pytest.raises(ValueError, match="password"):
        pdf_to_text(locked)
    fk, m = decryption_key(locked, b"s3cret")
    assert m == "aes3" and len(fk) == 32
    # Algorithm 2.B structural properties: 32 bytes, deterministic,
    # salt- and password-sensitive
    h = hash_2b(b"", b"\x01" * 8)
    assert len(h) == 32 and h == hash_2b(b"", b"\x01" * 8)
    assert h != hash_2b(b"", b"\x02" * 8)
    assert h != hash_2b(b"x", b"\x01" * 8)
