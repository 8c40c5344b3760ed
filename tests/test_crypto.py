"""Property tests for the SSI crypto kernel (SURVEY §5: sign->verify
round-trip, tamper detection, did:key format)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ssiintegrateddatapipeline_spark.functions import crypto
from ssiintegrateddatapipeline_spark.functions import crypto as C


def test_sign_verify_roundtrip():
    priv, pub = crypto.keypair_for("BINANCE:BTCUSDT")
    token = crypto.jwt_sign({"iss": "did:key:x", "claims": {"Price": 1.5}}, priv)
    assert crypto.jwt_verify(token, pub)


def test_tampered_payload_fails():
    priv, pub = crypto.keypair_for("BINANCE:BTCUSDT")
    token = crypto.jwt_sign({"claims": "a"}, priv)
    head, payload, sig = token.split(".")
    other = crypto.b64url(b'{"claims":"b"}')
    assert not crypto.jwt_verify(f"{head}.{other}.{sig}", pub)
    assert not crypto.jwt_verify(token + "x", pub)
    assert not crypto.jwt_verify("garbage", pub)


def test_wrong_key_fails():
    priv, _ = crypto.keypair_for("A")
    _, pub_b = crypto.keypair_for("B")
    assert not crypto.jwt_verify(crypto.jwt_sign({"x": 1}, priv), pub_b)


def test_did_key_format():
    _, pub = crypto.keypair_for("BINANCE:ETHUSDT")
    did = crypto.did_key_for(pub)
    # ed25519 multicodec under base58btc always yields the z6Mk prefix
    assert did.startswith("did:key:z6Mk")


def test_keys_deterministic():
    a1 = crypto.did_key_for(crypto.keypair_for("S")[1])
    a2 = crypto.did_key_for(crypto.keypair_for("S")[1])
    assert a1 == a2


@given(st.dictionaries(st.text(max_size=20), st.integers(), max_size=5))
@settings(max_examples=25, deadline=None)
def test_roundtrip_any_claims(claims):
    priv, pub = crypto.keypair_for("prop")
    token = crypto.jwt_sign(claims, priv)
    assert crypto.jwt_verify(token, pub)
    assert crypto.jwt_claims(token) == {str(k): v for k, v in claims.items()}


def test_b58_known_vector():
    # public test vector: leading zeros preserved, standard alphabet
    assert crypto.b58encode(b"\x00\x00hello") == "11Cn8eVZg"


# --- ES256K / keccak / did:ethr / did:web ----------------------------------


def test_keccak256_known_vectors():
    # Ethereum's empty-code hash constant and the classic 'abc' vector
    assert (
        C.keccak256(b"").hex()
        == "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470"
    )
    assert (
        C.keccak256(b"abc").hex()
        == "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45"
    )
    # multi-block input (> 136-byte rate) and the pad_len==1 edge (135 mod 136)
    assert len(C.keccak256(b"x" * 1000)) == 32
    assert len(C.keccak256(b"y" * 135)) == 32


def test_eth_address_known_vector():
    # private key 1 -> well-known EIP-55 checksummed address
    from cryptography.hazmat.primitives.asymmetric import ec

    pub = ec.derive_private_key(1, ec.SECP256K1()).public_key()
    assert C.eth_address_for(pub) == "0x7E5F4552091A69125d5DfCb7b8C2659029395Bdf"


def test_es256k_sign_verify_roundtrip_deterministic():
    priv, pub = C.es256k_keypair_for("BINANCE:BTCUSDT")
    t1 = C.jwt_sign_es256k({"iss": "a", "n": 1}, priv)
    t2 = C.jwt_sign_es256k({"iss": "a", "n": 1}, priv)
    assert t1 == t2  # RFC 6979 deterministic nonce
    assert C.jwt_verify_es256k(t1, pub)
    assert C.jwt_claims(t1) == {"iss": "a", "n": 1}
    header, _, _ = t1.split(".")
    import json

    assert json.loads(C.b64url_decode(header))["alg"] == "ES256K"


def test_es256k_tamper_and_wrong_key_fail():
    priv, pub = C.es256k_keypair_for("BINANCE:ETHUSDT")
    _, other_pub = C.es256k_keypair_for("BINANCE:SOLUSDT")
    t = C.jwt_sign_es256k({"iss": "a"}, priv)
    head, payload, sig = t.split(".")
    bad_payload = C.b64url(b'{"iss":"b"}')
    assert not C.jwt_verify_es256k(f"{head}.{bad_payload}.{sig}", pub)
    assert not C.jwt_verify_es256k(t, other_pub)
    assert not C.jwt_verify_es256k(t + "x", pub)


def test_es256k_signature_is_low_s_raw_64_bytes():
    priv, _ = C.es256k_keypair_for("BINANCE:ADAUSDT")
    t = C.jwt_sign_es256k({"x": 1}, priv)
    sig = C.b64url_decode(t.rsplit(".", 1)[1])
    assert len(sig) == 64
    s = int.from_bytes(sig[32:], "big")
    assert 1 <= s <= C.SECP256K1_N // 2


def test_did_ethr_format():
    _, pub = C.es256k_keypair_for("BINANCE:BTCUSDT")
    did = C.did_ethr_for(pub)
    assert did.startswith("did:ethr:sepolia:0x")
    assert len(did.split(":")[-1]) == 42
    assert C.did_ethr_for(pub, network="") == "did:ethr:" + did.split(":", 3)[3]


def test_did_web_alias_and_resolution_url():
    from ssiintegrateddatapipeline_spark.operators.identity import did_web_alias

    did = did_web_alias("BINANCE:BTCUSDT")
    assert did == "did:web:ssi-pipeline.localhost:trades:binance-btcusdt"
    assert (
        C.did_web_document_url(did)
        == "https://ssi-pipeline.localhost/trades/binance-btcusdt/did.json"
    )
    assert (
        C.did_web_document_url("did:web:example.com")
        == "https://example.com/.well-known/did.json"
    )


def test_identity_dim_per_provider(spark):
    from ssiintegrateddatapipeline_spark.operators.identity import (
        DID_PROVIDERS,
        build_identity_dim,
    )

    for provider in DID_PROVIDERS:
        rows = build_identity_dim(spark, did_provider=provider).collect()
        assert len(rows) == 5
        for r in rows:
            assert r.provider == provider
            if provider == "did:key":
                assert r.did.startswith("did:key:z6Mk")
                assert len(bytes.fromhex(r.public_key_hex)) == 32
            elif provider == "did:web":
                assert r.did.startswith("did:web:ssi-pipeline.localhost:trades:")
                # WebDIDProvider creates a Secp256k1 key in createIdentifier
                # (veramo_did_manager.ts:50-52), so did:web keys are
                # compressed secp256k1 (33 bytes) and tokens sign ES256K
                assert len(bytes.fromhex(r.public_key_hex)) == 33
            else:
                assert r.did.startswith("did:ethr:sepolia:0x")
                assert len(bytes.fromhex(r.public_key_hex)) == 33


def test_resolve_did_roundtrips():
    priv, pub = C.keypair_for("BINANCE:BTCUSDT")
    did = C.did_key_for(pub)
    doc = C.resolve_did(did)
    assert doc["verificationMethod"][0]["publicKeyHex"] == C.public_bytes(pub).hex()
    assert C.b58decode(C.b58encode(b"\x00\x01hello")) == b"\x00\x01hello"

    _, epub = C.es256k_keypair_for("BINANCE:ETHUSDT")
    edoc = C.resolve_did(C.did_ethr_for(epub))
    assert edoc["network"] == "sepolia"
    assert edoc["verificationMethod"][0]["blockchainAccountId"].startswith(
        "eip155:11155111:0x"
    )

    wdoc = C.resolve_did("did:web:example.com:a:b")
    assert wdoc["documentUrl"] == "https://example.com/a/b/did.json"


def test_resolve_did_rejects_malformed():
    import pytest

    _, epub = C.es256k_keypair_for("BINANCE:SOLUSDT")
    good = C.did_ethr_for(epub)
    bad = good[:-1] + ("a" if good[-1] != "a" else "b")
    with pytest.raises(ValueError, match="EIP-55"):
        C.resolve_did(bad)
    with pytest.raises(ValueError, match="ed25519"):
        C.resolve_did("did:key:z3" + "1" * 30)
    with pytest.raises(ValueError, match="unsupported DID method"):
        C.resolve_did("did:sov:xyz")
    # all-lowercase addresses carry no checksum -> accepted
    C.resolve_did("did:ethr:sepolia:" + good.split(":")[-1].lower())


def test_did_resolution_query(spark, sf_dir):
    from ssiintegrateddatapipeline_spark.operators.trade_pipeline import did_resolution

    rows = did_resolution(spark, sf_dir).collect()
    assert len(rows) == 20  # 5 symbols x (3 providers + derived did:jwk)
    assert all(r.key_consistent for r in rows)
    by_provider = {r.provider for r in rows}
    assert by_provider == {"did:key", "did:web", "did:ethr:sepolia", "did:jwk"}
    for r in rows:
        if r.provider == "did:web":
            assert r.document_url.endswith("/did.json")
        if r.provider == "did:jwk":
            # key_consistent folds in the did:jwk:ey shape check —
            # base64url('{"crv"...') — alongside the key roundtrip
            assert r.did_method == "jwk" and r.key_consistent


@settings(max_examples=25, deadline=None)
@given(st.text(st.characters(min_codepoint=48, max_codepoint=122), min_size=1, max_size=20))
def test_did_jwk_roundtrips_any_symbol(name):
    """did:jwk is a pure function of the key: generate -> resolve recovers
    the exact JWK for both key types, and the RFC 7638 kid is stable."""
    _, pub = C.keypair_for(name)
    did = C.did_jwk_for(pub)
    doc = C.resolve_did(did)
    vm = doc["verificationMethod"][0]
    assert vm["id"] == did + "#0" and vm["type"] == "JsonWebKey2020"
    assert vm["publicKeyJwk"] == C.jwk_for_public_key(pub)
    assert vm["kid"] == C.jwk_thumbprint(C.jwk_for_public_key(pub))

    _, epub = C.es256k_keypair_for(name)
    edid = C.did_jwk_for(epub)
    evm = C.resolve_did(edid)["verificationMethod"][0]
    assert evm["publicKeyJwk"]["kty"] == "EC"
    assert evm["publicKeyJwk"]["crv"] == "secp256k1"
    # same key -> same DID; different alg -> different DID
    assert C.did_jwk_for(pub) == did and edid != did


def test_did_jwk_thumbprint_rfc7638_vector():
    """The RSA-free analogue of the RFC 7638 flow: a fixed OKP JWK must
    hash only (crv, kty, x) in lexicographic order, no whitespace."""
    import hashlib as H

    jwk = {"kty": "OKP", "crv": "Ed25519", "x": "abc", "kid": "ignored"}
    canon = '{"crv":"Ed25519","kty":"OKP","x":"abc"}'
    want = C.b64url(H.sha256(canon.encode()).digest())
    assert C.jwk_thumbprint(jwk) == want


def test_did_jwk_rejects_malformed():
    import pytest

    with pytest.raises(ValueError, match="malformed did:jwk"):
        C.resolve_did("did:jwk:!!!not-base64url!!!")
    with pytest.raises(ValueError, match="not a JWK object"):
        C.resolve_did("did:jwk:" + C.b64url(b'["list"]'))
    with pytest.raises(ValueError, match="unsupported JWK kty"):
        C.resolve_did("did:jwk:" + C.b64url(b'{"kty":"RSA","n":"x","e":"AQAB"}'))
    with pytest.raises(ValueError, match="missing required members"):
        C.resolve_did("did:jwk:" + C.b64url(b'{"kty":"OKP","crv":"Ed25519","x":""}'))


def test_did_peer_and_pkh_resolution():
    """Resolver-factory parity: did:peer numalgo 0 resolves to the same
    key material as did:key; did:pkh eip155 validates the address."""
    import pytest

    _, pub = C.keypair_for("BINANCE:BTCUSDT")
    pdid = C.did_peer_for(pub)
    assert pdid.startswith("did:peer:0z")
    vm = C.resolve_did(pdid)["verificationMethod"][0]
    assert vm["publicKeyHex"] == C.public_bytes(pub).hex()
    assert vm["id"] == pdid + "#key-1" and vm["controller"] == pdid

    _, epub = C.es256k_keypair_for("BINANCE:ETHUSDT")
    kdid = C.did_pkh_for(epub)
    assert kdid.startswith("did:pkh:eip155:11155111:0x")
    doc = C.resolve_did(kdid)
    assert doc["verificationMethod"][0]["blockchainAccountId"] == kdid[len("did:pkh:") :]

    with pytest.raises(ValueError, match="numalgo 0"):
        C.resolve_did("did:peer:2.Ez6abc")
    with pytest.raises(ValueError, match="malformed did:pkh"):
        C.resolve_did("did:pkh:eip155:0xabc")
    bad_addr = kdid.rsplit(":", 1)[0] + ":0x" + "a" * 39  # wrong length
    with pytest.raises(ValueError, match="malformed ethereum address"):
        C.resolve_did(bad_addr)
    # non-eip155 namespaces carry opaque account ids -> accepted verbatim
    C.resolve_did("did:pkh:solana:mainnet:4Nd1mYvn")


def test_provider_dispatch_columns_null_safe(spark):
    """sign_column_by / verify_column_by / sign_tamper_verify_column_by:
    per-row provider dispatch signs with the row's provider (tokens match
    _sign_for), the fused op rejects exactly the tampered rows, and a null
    provider (an SSI-off config row), an unknown provider or a null token
    gives null."""
    import pytest

    from ssiintegrateddatapipeline_spark.operators import identity as I

    rows = [
        ("BINANCE:BTCUSDT", "p0", "did:key", False),
        ("BINANCE:ETHUSDT", "p1", "did:web", False),
        ("BINANCE:SOLUSDT", "p2", "did:ethr:sepolia", False),
        ("BINANCE:BTCUSDT", "p3", None, False),
        ("BINANCE:ADAUSDT", "p4", "did:web", True),
        ("BINANCE:XRPUSDT", "p5", "did:foo", False),
    ]
    df = spark.createDataFrame(
        rows, "symbol string, payload string, prov string, tamper boolean"
    )
    out = I.verify_column_by(
        I.sign_column_by(df, "symbol", "payload", "prov"), "symbol", "jwt", "prov"
    ).collect()
    by_payload = {r.payload: r for r in out}
    for sym, payload, prov, _ in rows[:3]:
        r = by_payload[payload]
        assert r.jwt == I._sign_for(sym, prov, {"claims": payload})
        assert r.verified is True
    for payload in ("p3", "p5"):
        assert by_payload[payload].jwt is None
        assert by_payload[payload].verified is None

    fused = I.sign_tamper_verify_column_by(df, "symbol", "payload", "tamper", "prov")
    verdicts = {r.payload: r.verified for r in fused.collect()}
    assert verdicts == {
        "p0": True, "p1": True, "p2": True, "p3": None, "p4": False, "p5": None
    }

    # a null token, and a real token under an unknown provider
    token = by_payload["p1"].jwt
    unverifiable = spark.createDataFrame(
        [("BINANCE:BTCUSDT", None, "did:key"), ("BINANCE:ETHUSDT", token, "did:foo")],
        "symbol string, jwt string, prov string",
    )
    out = I.verify_column_by(unverifiable, "symbol", "jwt", "prov").collect()
    assert [r.verified for r in out] == [None, None]
    with pytest.raises(ValueError):
        I._executor_keys("BINANCE:BTCUSDT", "did:foo")
