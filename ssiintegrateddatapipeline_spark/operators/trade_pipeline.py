"""Trade-pipeline transforms — the reference's dataflow layer as Spark plans.

Re-expresses SURVEY §2.2/§2.3/§2.8 record-at-a-time operators as declarative
column expressions over an event stream/table:

- P1 rename map + P2 default-fill + P3 envelope + P7 ingest timestamp
  (finnhub.go:47-53, models/types.go:27-34, trade_handler.go:122-145)
- P12 did:web alias construction (create_web_url.go:15-59) and P13 DID
  parse (host_did_web/src/main.go:398-417) as pure string expressions
- F4 host validation filter (main.go:166-168)
- U4 authorization-grant check (veramo_authorisation_credential.ts:242-556):
  permission superset, scope wildcard, expiry — pure column logic
- U1/U2 sign+verify (Ed25519 JWT) as Arrow-batched Pandas UDFs with a
  broadcast identity dimension (J1)

All queries run on the driver's `events`/`documents` tables so the DuckDB
oracle can check them; the streaming variants compose the same column
expressions (see streaming/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.operators.identity import (
    SYMBOLS,
    build_identity_dim,
)
from ssiintegrateddatapipeline_spark.sources.batch import load_table, local_frame, spread

REQUIRED_PERMISSIONS = (
    "createVerifiableCredential",
    "dataStoreSaveVerifiableCredential",
)

_GRANTS = {
    "signup": ("didManagerGetOrCreate", "didManagerAddKey"),
    "purchase": (
        "didManagerGetOrCreate",
        "didManagerAddKey",
        "didManagerAddService",
        "keyManagerCreate",
        "keyManagerSign",
        "createVerifiableCredential",
        "dataStoreSaveVerifiableCredential",
    ),
    "click": ("createVerifiableCredential",),
    "view": (),
    "error": (
        "createVerifiableCredential",
        "dataStoreSaveVerifiableCredential",
        "keyManagerSign",
    ),
}


def _symbol_col() -> Column:
    """Deterministic user->symbol mapping (stands in for the per-symbol
    stream routing of the reference's 5 configured tickers)."""
    arr = F.array(*[F.lit(s) for s in SYMBOLS])
    return F.element_at(arr, (F.col("user_id") % 5 + 1).cast("int"))


def trade_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P3+P7+A6: rename map, default-fill, envelope, ingest stamp,
    e2e latency — flattened for the oracle."""
    ev = load_table(spark, sf_dir, "events")
    ingest_delay = (F.col("event_id") % 5).cast("long")  # deterministic skew
    return ev.select(
        F.md5(F.col("event_id").cast("string")).alias("trade_event_id"),
        _symbol_col().alias("symbol"),
        F.col("value").alias("price"),
        ((F.col("event_id") % 100 + 1).cast("double")).alias("volume"),
        # default-fill: 'view' events carry no condition -> null -> []
        F.coalesce(
            F.when(F.col("event_type") != "view", F.array(F.col("event_type"))),
            F.array().cast("array<string>"),
        ).alias("trade_condition"),
        F.col("ts").alias("event_timestamp"),
        F.timestamp_micros(F.unix_micros("ts") + ingest_delay * 1000000).alias(
            "start_timestamp"
        ),
        ingest_delay.cast("double").alias("e2e_latency_secs"),
    )


def _sanitize(c: Column) -> Column:
    """create_web_url.go:15-59 semantics: lowercase, strip illegal chars to
    dashes, collapse dash runs, trim edge dashes."""
    c = F.lower(c)
    c = F.regexp_replace(c, "[^a-z0-9.-]", "-")
    c = F.regexp_replace(c, "-+", "-")
    return F.regexp_replace(c, "(^-)|(-$)", "")


def _did_web() -> Column:
    host = _sanitize(F.concat(F.col("source"), F.lit(".github.io")))
    project = _sanitize(F.concat(F.lit("Trade Project_"), F.col("lang")))
    entity = _sanitize(F.concat(F.lit("Sym/"), F.col("doc_id").cast("string")))
    return F.concat_ws(":", F.lit("did:web"), host, project, entity)


def did_web_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12: did:web alias construction from raw host/project/entity parts."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", _did_web().alias("did"))


def did_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13+F4: parse a did:web string into segments and validate the host
    (must end .github.io — host_did_web/src/main.go:166-168)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _did_web().alias("did")
    )
    parts = F.split(F.col("did"), ":")
    return d.select(
        "doc_id",
        F.element_at(parts, 2).alias("method"),
        F.element_at(parts, 3).alias("host"),
        F.element_at(parts, 4).alias("project"),
        F.element_at(parts, 5).alias("entity"),
        F.element_at(parts, 3).endswith(".github.io").alias("host_valid"),
    )


def authz_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: verify a DID authorization grant — permission superset
    (array_except), scope wildcard ('/*' suffix), expiry — as pure columns."""
    ev = load_table(spark, sf_dir, "events")
    granted = F.lit(None).cast("array<string>")
    expr = None
    for etype, perms in _GRANTS.items():
        arm = F.array(*[F.lit(p) for p in perms]) if perms else F.array().cast("array<string>")
        expr = F.when(F.col("event_type") == etype, arm) if expr is None else expr.when(
            F.col("event_type") == etype, arm
        )
    granted = expr.otherwise(F.array().cast("array<string>"))
    required = F.array(*[F.lit(p) for p in REQUIRED_PERMISSIONS])
    has_permissions = F.size(F.array_except(required, granted)) == 0

    base = F.concat(F.lit("did:web:example:"), F.col("user_id").cast("string"))
    granted_scope = F.when(
        F.col("user_id") % 2 == 0, F.concat(base, F.lit("/*"))
    ).otherwise(F.concat(base, F.lit("/trades/42")))
    resource = F.concat(base, F.lit("/trades/"), (F.col("event_id") % 100).cast("string"))
    scope_ok = F.when(
        granted_scope.endswith("/*"),
        resource.startswith(F.substring(granted_scope, 1, F.length(granted_scope) - 1)),
    ).otherwise(resource == granted_scope)

    expires_at = F.timestamp_micros(
        F.unix_micros("ts") + (F.col("user_id") % 48).cast("long") * 3600 * 1000000
    )
    not_expired = expires_at > F.lit("2024-01-15 00:00:00").cast("timestamp")

    return ev.select(
        "event_id",
        has_permissions.alias("has_permissions"),
        scope_ok.alias("scope_ok"),
        not_expired.alias("not_expired"),
        (has_permissions & scope_ok & not_expired).alias("authorized"),
    )


def sign_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+U2 round trip: sign each event's payload with its symbol's did:key
    (Ed25519) key, tamper a deterministic subset (event_id % 50 == 0),
    verify.

    The oracle predicts the outcome column exactly: verification succeeds
    iff the payload was not tampered with.

    Sign, tamper and verify run in ONE Arrow kernel
    (identity.sign_tamper_verify_column_by, with the provider a literal
    column) — nothing downstream reads the token.
    """
    from ssiintegrateddatapipeline_spark.operators.identity import (
        sign_tamper_verify_column_by,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        # the crypto UDF stage must be wide: the scan is 1-2 parquet splits,
        # which would serialize all signing onto 1-2 Python workers
        .transform(spread)
        .select(
            "event_id",
            _symbol_col().alias("symbol"),
            F.col("props").alias("payload"),
            (F.col("event_id") % 50 == 0).alias("tampered"),
            F.lit("did:key").alias("provider"),
        )
    )
    return sign_tamper_verify_column_by(
        ev, "symbol", "payload", "tampered", "provider"
    ).select("event_id", "symbol", "tampered", "verified")


def json_parse_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5 + F5: JSON frame parse with corrupt-record routing.

    The reference parses each frame and routes parse errors to a counter
    instead of failing the stream (finnhub.go:172-199 message dispatch;
    process_data.py:34-59 json.loads with per-message error handling;
    kafka_consumer.py:142-150 deserialization-error skip). Here: a
    deterministic subset of payloads is corrupted (trailing brace), then
    ``from_json`` in PERMISSIVE mode yields null structs for malformed
    input — the status column routes ok vs corrupt without any Python."""
    ev = load_table(spark, sf_dir, "events")
    # corruption = truncation (unclosed object) — trailing garbage would not
    # do: Jackson stops at the first complete document and accepts it
    wire_payload = F.when(
        F.col("event_id") % 97 == 0,
        F.substring(F.col("props"), 1, F.length("props") - 1),
    ).otherwise(F.col("props"))
    parsed = F.from_json(
        wire_payload,
        "k int, _corrupt_record string",
        {"columnNameOfCorruptRecord": "_corrupt_record"},
    )
    return ev.select(
        "event_id",
        F.when(
            parsed.getField("_corrupt_record").isNotNull(), F.lit("corrupt")
        )
        .otherwise(F.lit("ok"))
        .alias("status"),
        parsed.getField("k").alias("k"),
    )


def identity_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: the per-symbol identity dimension, audited structurally across
    ALL THREE providers (did:key / did:web / did:ethr:sepolia).

    The raw dimension (build_identity_dim) carries base58 DIDs and
    Ed25519/ES256K JWTs that no SQL engine can derive, so the contract
    projection validates the crypto Spark-side and emits only
    deterministic structural facts — DID well-formedness (exact alias
    equality for did:web, EIP-55 checksum for did:ethr, multicodec prefix
    for did:key), key size, the decoded JWS header, signature length, and
    an authorization-claims check — all of which the DuckDB oracle
    reproduces from the literal provider matrix. A flipped bit anywhere in
    the crypto path (wrong curve, bad checksum, malformed JWS) flips a
    column and fails the hash compare. Raw signatures remain covered by
    trade_sign_verify's tamper oracle."""
    from collections.abc import Iterator as _Iterator

    import pandas as pd  # noqa: F811

    from ssiintegrateddatapipeline_spark.operators.identity import (
        DID_PROVIDERS,
        PROTECTED_METHODS,
    )

    dim = build_identity_dim(spark, did_provider=DID_PROVIDERS[0])
    for p in DID_PROVIDERS[1:]:
        dim = dim.unionByName(build_identity_dim(spark, did_provider=p))

    def audit(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        import json as _json

        from ssiintegrateddatapipeline_spark.functions import crypto
        from ssiintegrateddatapipeline_spark.operators.identity import (
            did_web_alias,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                if r.provider == "did:key":
                    did_valid = r.did.startswith("did:key:z6Mk")
                elif r.provider == "did:web":
                    did_valid = r.did == did_web_alias(r.symbol)
                else:
                    try:  # resolve_did raises on a bad EIP-55 checksum
                        crypto.resolve_did(r.did)
                        did_valid = r.did.startswith("did:ethr:sepolia:0x")
                    except ValueError:
                        did_valid = False
                h, p, s = r.authorization_jwt.split(".")
                payload = _json.loads(crypto.b64url_decode(p))
                rows.append(
                    {
                        "symbol": r.symbol,
                        "provider": r.provider,
                        "did_method": r.provider.split(":")[1],
                        "did_valid": bool(did_valid),
                        "did_web_alias": (
                            r.did if r.provider == "did:web" else None
                        ),
                        "key_bytes": len(bytes.fromhex(r.public_key_hex)),
                        "jwt_header": crypto.b64url_decode(h).decode(),
                        "jwt_sig_bytes": len(crypto.b64url_decode(s)),
                        "authz_ok": bool(
                            payload.get("sub") == r.did
                            and payload.get("scope") == f"{r.did}/*"
                            and tuple(payload.get("permissions", ()))
                            == PROTECTED_METHODS[:6]
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    return dim.mapInPandas(
        audit,
        "symbol string, provider string, did_method string, "
        "did_valid boolean, did_web_alias string, key_bytes int, "
        "jwt_header string, jwt_sig_bytes int, authz_ok boolean",
    )


def did_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: resolve the identity dimension's DIDs across all three provider
    methods (resolver map parity: veramo_resolver_manager.ts:22-64).
    did:key recovers and cross-checks the public key; did:ethr validates
    the EIP-55 checksum against the key-derived address; did:web yields
    the hosted document URL. Arrow-batched. The output is the structural
    resolution audit (method, per-method verification counts, the
    did:web document URL — a pure string function of the symbol — and
    key-consistency flags), which the DuckDB oracle replays from the
    literal provider matrix; the base58/keccak-bearing DIDs themselves
    stay out of the projection (not SQL-expressible)."""
    from collections.abc import Iterator as _Iterator

    import pandas as pd  # noqa: F811

    from ssiintegrateddatapipeline_spark.operators.identity import (
        DID_PROVIDERS,
        build_identity_dim,
    )

    dim = build_identity_dim(spark, did_provider=DID_PROVIDERS[0])
    for p in DID_PROVIDERS[1:]:
        dim = dim.unionByName(build_identity_dim(spark, did_provider=p))

    def res(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        from ssiintegrateddatapipeline_spark.functions import crypto

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                doc = crypto.resolve_did(r.did)
                vms = doc.get("verificationMethod", [])
                if r.provider == "did:key":
                    key_ok = vms[0]["publicKeyHex"] == r.public_key_hex
                elif r.provider.startswith("did:ethr"):
                    # address inside the DID must match the registered key
                    priv, pub = crypto.es256k_keypair_for(r.symbol)
                    key_ok = r.did.endswith(crypto.eth_address_for(pub))
                else:
                    key_ok = "documentUrl" in doc
                rows.append(
                    {
                        "symbol": r.symbol,
                        "provider": r.provider,
                        "did_method": r.provider.split(":")[1],
                        "n_verification_methods": len(vms),
                        "document_url": doc.get("documentUrl"),
                        "key_consistent": bool(key_ok),
                    }
                )
                if r.provider == "did:key":
                    # did:jwk over the same Ed25519 key (resolver-factory
                    # parity: did-jwk registered alongside key/web/ethr)
                    _, pub = crypto.keypair_for(r.symbol)
                    jdid = crypto.did_jwk_for(pub)
                    jvm = crypto.resolve_did(jdid)["verificationMethod"]
                    jwk_ok = (
                        crypto.b64url_decode(jvm[0]["publicKeyJwk"]["x"]).hex()
                        == r.public_key_hex
                    ) and jdid.startswith("did:jwk:ey")
                    rows.append(
                        {
                            "symbol": r.symbol,
                            "provider": "did:jwk",
                            "did_method": "jwk",
                            "n_verification_methods": len(jvm),
                            "document_url": None,
                            "key_consistent": bool(jwk_ok),
                        }
                    )
            yield pd.DataFrame(rows)

    return dim.mapInPandas(
        res,
        "symbol string, provider string, did_method string, "
        "n_verification_methods int, document_url string, "
        "key_consistent boolean",
    )



def shared_secret_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyManagerSharedSecret (veramo-methods.ts: Key Management) as a
    structural audit over every unordered symbol pair: the X25519 ECDH
    shared secret computed in BOTH directions on executors, emitting the
    facts SQL can replay — secret length, agreement symmetry
    (secret(a,b) == secret(b,a), the property the method exists for),
    non-degeneracy (secret differs from both parties' public keys), and
    pair distinctness via a per-pair secret fingerprint being unique
    across the matrix. Raw secret bytes never leave the executor."""
    import hashlib as _hashlib
    from collections.abc import Iterator as _Iterator

    import pandas as pd  # noqa: F811

    from ssiintegrateddatapipeline_spark.operators.identity import SYMBOLS

    pairs = local_frame(spark, 
        [(a, b) for a in SYMBOLS for b in SYMBOLS if a < b],
        "symbol_a string, symbol_b string",
    ).repartition(4)

    def audit(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        from ssiintegrateddatapipeline_spark.functions.crypto import (
            _x25519_raw,
            x25519_keypair_for,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                pa, qa = x25519_keypair_for(r.symbol_a)
                pb, qb = x25519_keypair_for(r.symbol_b)
                ab = pa.exchange(qb)
                ba = pb.exchange(qa)
                rows.append(
                    {
                        "symbol_a": r.symbol_a,
                        "symbol_b": r.symbol_b,
                        "secret_bytes": len(ab),
                        "symmetric": ab == ba,
                        "nondegenerate": ab not in (
                            _x25519_raw(qa), _x25519_raw(qb)
                        ),
                        "fp": _hashlib.sha256(ab).hexdigest()[:16],
                    }
                )
            yield pd.DataFrame(rows)

    out = pairs.mapInPandas(
        audit,
        schema="symbol_a string, symbol_b string, secret_bytes int,"
        " symmetric boolean, nondegenerate boolean, fp string",
    )
    # distinctness is a cross-row fact: count how many pairs share this
    # pair's fingerprint (must be 1 everywhere)
    from pyspark.sql import Window as _W

    w = _W.partitionBy("fp")
    return out.select(
        "symbol_a",
        "symbol_b",
        "secret_bytes",
        "symmetric",
        "nondegenerate",
        F.count(F.lit(1)).over(w).cast("long").alias("fp_collisions"),
    )



# the five resolvable methods that carry verificationMethod components
# offline (did:web's vm list comes from the fetched did.json — network,
# out of scope) and their component types, mirrored by the oracle
_COMPONENT_METHODS = [
    ("key", "Ed25519VerificationKey2020"),
    ("ethr", "EcdsaSecp256k1RecoveryMethod2020"),
    ("jwk", "JsonWebKey2020"),
    ("peer", "Ed25519VerificationKey2020"),
    ("pkh", "EcdsaSecp256k1RecoveryMethod2020"),
]


def did_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getDIDComponentById (veramo-methods.ts: DID Resolution) as a
    structural audit: for every (symbol, method) with an offline-
    resolvable document, resolve the DID, then DEREFERENCE the first
    verificationMethod by its own fragment id — the method's semantics:
    given a DID URL with a fragment, return that component from the
    resolved document. Emits what SQL can replay (component found, its
    type per method, controller == the DID, fragment well-formed); the
    base58/keccak-bearing ids stay Spark-side."""
    from collections.abc import Iterator as _Iterator

    import pandas as pd  # noqa: F811

    from ssiintegrateddatapipeline_spark.operators.identity import SYMBOLS

    grid = local_frame(spark, 
        [(s, m) for s in SYMBOLS for m, _ in _COMPONENT_METHODS],
        "symbol string, did_method string",
    ).repartition(4)

    def audit(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        from ssiintegrateddatapipeline_spark.functions import crypto

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                if r.did_method == "key":
                    _, pub = crypto.keypair_for(r.symbol)
                    did = crypto.did_key_for(pub)
                elif r.did_method == "ethr":
                    _, pub = crypto.es256k_keypair_for(r.symbol)
                    did = crypto.did_ethr_for(pub)
                elif r.did_method == "jwk":
                    _, pub = crypto.keypair_for(r.symbol)
                    did = crypto.did_jwk_for(pub)
                elif r.did_method == "peer":
                    _, pub = crypto.keypair_for(r.symbol)
                    did = crypto.did_peer_for(pub)
                else:
                    _, pub = crypto.es256k_keypair_for(r.symbol)
                    did = crypto.did_pkh_for(pub)
                doc = crypto.resolve_did(did)
                vms = doc.get("verificationMethod", [])
                # Construct the DID URL INDEPENDENTLY of the document,
                # from each method's published fragment convention —
                # the dereference below can genuinely miss if the
                # resolver's component ids drift from the spec.
                frag = {
                    "key": did.split(":")[-1],  # multibase key id
                    "ethr": "controller",
                    "jwk": "0",
                    "peer": "key-1",
                    "pkh": "blockchainAccountId",
                }[r.did_method]
                frag_id = f"{did}#{frag}"
                # the dereference: find the component whose id matches
                comp = next(
                    (v for v in vms if v["id"] == frag_id), None
                )
                # and the miss case: a fragment that exists in no
                # document must dereference to not-found
                miss = next(
                    (v for v in vms if v["id"] == f"{did}#nonexistent"),
                    None,
                )
                rows.append(
                    {
                        "symbol": r.symbol,
                        "did_method": r.did_method,
                        "component_found": comp is not None,
                        "component_type": comp["type"] if comp else None,
                        "controller_matches": bool(
                            comp and comp.get("controller") == doc["id"]
                        ),
                        "fragment_wellformed": bool(
                            frag_id
                            and frag_id.startswith(doc["id"] + "#")
                        ),
                        "miss_not_found": miss is None,
                    }
                )
            yield pd.DataFrame(rows)

    return grid.mapInPandas(
        audit,
        schema="symbol string, did_method string, component_found boolean,"
        " component_type string, controller_matches boolean,"
        " fragment_wellformed boolean, miss_not_found boolean",
    )



def eth_tx_sign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyManagerSignEthTX (veramo-methods.ts: Key Management) — the last
    crypto method: each sampled event becomes a legacy Ethereum transfer
    (nonce = event_id, 20-gwei gas price, 21000 gas, to = the symbol's
    key-derived address, value = the event value in exact micro-wei),
    RLP-encoded with the EIP-155 replay-protected preimage, keccak-256
    hashed, and signed with the symbol's secp256k1 key (RFC 6979
    deterministic, low-S normalized — the consensus rule).

    Oracle device: the per-symbol SUM of unsigned-RLP byte lengths is
    replayed ANALYTICALLY in SQL from the yellow-paper encoding rules
    (minimal big-endian integer items, 0x80+len string prefixes, list
    header) — the same exact-integer accounting as the Avro wire sizes —
    while signature validity and low-S are verified Spark-side against
    the real curve math and must both hold for every row.

    Round 8: the signature is now RECOVERABLE — every row carries the
    EIP-155 v = chain_id·2 + 35 + recovery_id and the broadcastable
    signed raw RLP, and a deterministic 1-in-25 subset (event_id % 400)
    runs full public-key recovery (v, r, s) → address and must land on
    the signer's address. Keccak digests are numpy-batched
    (crypto.keccak256_batch) — the per-row pure-Python sponge this
    kernel used through round 7 was its dominant constant."""
    from collections.abc import Iterator as _Iterator

    import pandas as pd  # noqa: F811

    from ssiintegrateddatapipeline_spark.operators.identity import SYMBOLS

    arr = F.array(*[F.lit(s) for s in SYMBOLS])
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 16 == 0)
        .select(
            "event_id",
            F.element_at(arr, (F.col("user_id") % 5 + 1).cast("int")).alias(
                "symbol"
            ),
            # exact integer micro-wei: micro-units scaled to 1e12 wei
            (F.round(F.col("value") * 1e6).cast("long") * F.lit(1_000_000))
            .alias("value_wei"),
        )
        .transform(spread, "event_id")
    )

    def sign(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        from ssiintegrateddatapipeline_spark.functions import crypto

        keys: dict = {}
        for pdf in batches:
            # pass 1: per-symbol key setup + RLP preimages (cheap Python)
            pre = []
            for r in pdf.itertuples():
                if r.symbol not in keys:
                    priv, pub = crypto.es256k_keypair_for(r.symbol)
                    addr = crypto.eth_address_for(pub)
                    keys[r.symbol] = (priv, pub, addr, bytes.fromhex(addr[2:]))
                priv, pub, addr, to = keys[r.symbol]
                pre.append(
                    crypto.rlp_encode(
                        [
                            int(r.event_id),
                            20_000_000_000,
                            21_000,
                            to,
                            int(r.value_wei),
                            b"",
                            crypto.ETH_CHAIN_ID,
                            0,
                            0,
                        ]
                    )
                )
            # pass 2: one vectorized keccak sweep over the whole batch
            digests = crypto.keccak256_batch(pre)
            rows = []
            for r, unsigned, h in zip(pdf.itertuples(), pre, digests):
                priv, pub, addr, to = keys[r.symbol]
                tx = crypto.eth_sign_tx(
                    priv,
                    nonce=int(r.event_id),
                    gas_price=20_000_000_000,
                    gas_limit=21_000,
                    to=to,
                    value=int(r.value_wei),
                    tx_hash=h,
                )
                check_addr = int(r.event_id) % 400 == 0
                rows.append(
                    {
                        "symbol": r.symbol,
                        "rlp_len": len(unsigned),
                        "verified": crypto.eth_verify_tx_sig(
                            pub, h, tx["r"], tx["s"]
                        ),
                        "low_s": tx["low_s"],
                        "v_ok": tx["v"]
                        in (
                            crypto.ETH_CHAIN_ID * 2 + 35,
                            crypto.ETH_CHAIN_ID * 2 + 36,
                        )
                        and len(tx["raw_tx"]) > len(unsigned),
                        "addr_ok": check_addr
                        and crypto.eth_recover_address(
                            h, tx["v"], tx["r"], tx["s"]
                        )
                        == addr,
                    }
                )
            yield pd.DataFrame(rows)

    out = ev.mapInPandas(
        sign,
        schema="symbol string, rlp_len int, verified boolean, low_s boolean,"
        " v_ok boolean, addr_ok boolean",
    )
    return out.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_txs"),
        F.sum("rlp_len").alias("total_rlp_bytes"),
        F.sum(F.col("verified").cast("long")).alias("n_verified"),
        F.sum(F.col("low_s").cast("long")).alias("n_low_s"),
        F.sum(F.col("v_ok").cast("long")).alias("n_v_valid"),
        F.sum(F.col("addr_ok").cast("long")).alias("n_addr_recovered"),
    )


def vp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """createVerifiablePresentation + verifyPresentation
    (veramo-methods.ts:56-58) as a real JWT sign→verify roundtrip — the
    last computational Veramo credential-operation family.

    Flow (ONE small-row shuffle, then one fused Arrow kernel — guide §8:
    decide placement with small rows, never move the heavy bytes):
      1. The raw event rows (~50 B each) hash-exchange straight to their
         (holder, day) bundle partition. This replaces the former
         sign-then-shuffle shape, whose exchange carried the ~600 B VC
         JWTs (~60 MB at sf0.1) that the very next stage re-consumed —
         the tokens are produced AND consumed in Python, so shuffling
         them was pure transfer cost (measured 4.49 → 2.47 s median-of-4
         interleaved A/B at sf0.1, results bit-identical).
      2. One Arrow kernel per partition then does the whole credential
         flow co-located: VC issuance (every event becomes a VC JWT —
         the issuer symbol signs {iss, sub: holder, vc: …} with its
         Ed25519 key, the U1 device), bundling (groups of ≥2 in
         event_id order — the former array_sort(collect_list) contract),
         presentation (the HOLDER key signs a ``vp`` claim wrapping the
         bundle's VC JWTs; a deterministic 1-in-41 holder subset gets
         its first VC tampered BEFORE the VP is signed, a 1-in-37
         subset gets the VP JWT tampered after), and verifyPresentation
         (re-derive the EXPECTED holder key from user_id — never
         trusting the token — verify the VP signature, check iss ==
         the expected holder DID, then verify every embedded VC against
         its issuer's key and its sub == VP iss, the holder-binding
         rule). Bundle groups can straddle Arrow batch boundaries, so
         the kernel buffers its partition's rows (bounded by the
         partition's share of the hash exchange — scale the partition
         count with data, as the exchange already does).

    The oracle replays the bundle definition and both tamper predicates
    in SQL; every crypto outcome column is exactly predicted."""
    from collections.abc import Iterator as _Iterator

    import pandas as pd  # noqa: F811

    n = spark.sparkContext.defaultParallelism
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            _symbol_col().alias("symbol"),
            F.to_date("ts").alias("presentation_date"),
            F.col("event_type"),
        )
        # the ONLY exchange: raw event rows to their bundle partition
        .repartition(n, "user_id", "presentation_date")
    )

    def kernel(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        import json as _json

        from ssiintegrateddatapipeline_spark.functions import crypto

        # bundle rows are co-located by the hash exchange but may straddle
        # Arrow batch boundaries — buffer the partition by bundle key
        groups: dict = {}
        for pdf in batches:
            for eid, uid, sym, pdate, etype in zip(
                pdf["event_id"].tolist(),
                pdf["user_id"].tolist(),
                pdf["symbol"].tolist(),
                pdf["presentation_date"].tolist(),
                pdf["event_type"].tolist(),
            ):
                groups.setdefault((int(uid), pdate), []).append(
                    (int(eid), sym, str(etype))
                )
        issuer_keys: dict = {}
        holder_keys: dict = {}
        cols = (
            "user_id",
            "presentation_date",
            "n_credentials",
            "vp_verified",
            "n_vcs_verified",
            "holder_binding_ok",
            "vp_sig_bytes",
        )
        # cap peak Python memory (ADVICE r11): each bundle's input rows
        # are freed as it is processed (popitem) and the output flushes
        # every FLUSH_BUNDLES bundles, so the resident set is the
        # unprocessed input plus one output chunk — never input + full
        # output simultaneously. Output row order is not part of the
        # contract (the oracle compare sorts).
        FLUSH_BUNDLES = 4096
        rows: dict = {c: [] for c in cols}
        while groups:
            (uid, pdate), evs = groups.popitem()
            if len(rows["user_id"]) >= FLUSH_BUNDLES:
                yield pd.DataFrame(rows)
                rows = {c: [] for c in cols}
            if len(evs) < 2:  # bundles need >= 2 credentials
                continue
            evs.sort()  # bundle order = event_id order (the array_sort rule)
            if uid not in holder_keys:
                hpriv, hpub = crypto.keypair_for(f"user:{uid}")
                holder_keys[uid] = (hpriv, hpub, crypto.did_key_for(hpub))
            hpriv, hpub, holder_did = holder_keys[uid]
            vc_jwts: list = []
            symbols: list = []
            for _eid, sym, etype in evs:
                ik = issuer_keys.get(sym)
                if ik is None:
                    ipriv, ipub = crypto.keypair_for(sym)
                    ik = issuer_keys[sym] = (
                        ipriv,
                        ipub,
                        crypto.did_key_for(ipub),
                    )
                ipriv, _ipub, issuer_did = ik
                vc_jwts.append(
                    crypto.jwt_sign(
                        {
                            "iss": issuer_did,
                            "sub": holder_did,
                            "vc": {
                                "type": ["VerifiableCredential", etype],
                                "credentialSubject": {"id": holder_did},
                            },
                        },
                        ipriv,
                    )
                )
                symbols.append(sym)
            n_creds = len(vc_jwts)
            if uid % 41 == 0:  # inner tamper BEFORE presenting
                vc_jwts[0] += "x"
            vp_jwt = crypto.jwt_sign(
                {
                    "iss": holder_did,
                    "vp": {
                        "type": ["VerifiablePresentation"],
                        "verifiableCredential": vc_jwts,
                    },
                },
                hpriv,
            )
            if uid % 37 == 0:  # envelope tamper AFTER signing
                vp_jwt += "x"
            # --- verifyPresentation, trusting only user_id ---
            vp_ok = crypto.jwt_verify(vp_jwt, hpub)
            claims = crypto.jwt_claims(vp_jwt)
            iss_ok = claims.get("iss") == holder_did
            embedded = claims.get("vp", {}).get("verifiableCredential", [])
            n_vcs_verified = 0
            binding_ok = len(embedded) > 0
            for tok, sym in zip(embedded, symbols):
                if crypto.jwt_verify(tok, issuer_keys[sym][1]):
                    n_vcs_verified += 1
                try:
                    sub = _json.loads(
                        crypto.b64url_decode(tok.split(".")[1])
                    ).get("sub")
                except Exception:
                    sub = None
                binding_ok = binding_ok and sub == claims.get("iss")
            rows["user_id"].append(uid)
            rows["presentation_date"].append(pdate)
            rows["n_credentials"].append(n_creds)
            rows["vp_verified"].append(vp_ok and iss_ok)
            rows["n_vcs_verified"].append(n_vcs_verified)
            rows["holder_binding_ok"].append(binding_ok)
            rows["vp_sig_bytes"].append(
                len(
                    crypto.b64url_decode(
                        (vp_jwt[:-1] if uid % 37 == 0 else vp_jwt)
                        .rsplit(".", 1)[1]
                    )
                )
            )
        yield pd.DataFrame(rows)

    return ev.mapInPandas(
        kernel,
        schema="user_id long, presentation_date date, n_credentials int,"
        " vp_verified boolean, n_vcs_verified int,"
        " holder_binding_ok boolean, vp_sig_bytes int",
    )



# discoverDid search terms: alias hits, store hits, a case-sensitive
# issuer probe, and a guaranteed miss (the provider must return an empty
# match set, not drop the row)
_DISCOVERY_QUERIES = (
    "btcusdt",
    "solusdt",
    "user:12",
    "issuer:BINANCE",
    "localhost:trades",
    "did:example:nobody",
)


def did_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """discoverDid (veramo-methods.ts:36) as its offline analogue:
    discovery over the STORED surface instead of the network. Veramo's
    IDIDDiscovery fans a query string out to provider plugins (alias
    lookup in the DID manager, profile search in the data store, …) and
    returns per-provider match arrays; the engine mirrors that with
    three providers over its own stores:

      - ``alias``       — the did:web alias dimension (identity dim)
      - ``data-store``  — credential-store subject DIDs
      - ``did-comm``    — message-store from/to DIDs

    Each (query, provider) row reports the distinct DIDs matched and the
    first match — including the empty result for a query no store
    contains. The query list is a broadcast 6-row literal, so every
    branch is a substring-predicate scan + hash aggregate; no shuffle
    carries more than (query × provider × did) matches."""
    from ssiintegrateddatapipeline_spark.operators.identity import (
        did_web_alias as _alias_fn,
    )

    # literal frames as SQL VALUES: a LocalRelation broadcasts driver-side
    # with no job, where a createDataFrame frame is a 32-slice Python RDD
    # whose every broadcast/scan pays Python-worker round trips (~1 s each
    # on this box — measured 10 s for the 5x6 alias branch alone)
    def _values(col: str, vals) -> DataFrame:
        rows = ", ".join("('" + v.replace("'", "''") + "')" for v in vals)
        return spark.sql(f"SELECT * FROM VALUES {rows} AS t({col})")

    qdf = _values("query", _DISCOVERY_QUERIES)
    aliases = _values("did", [_alias_fn(s) for s in SYMBOLS])
    # Discovery matches IDENTIFIERS, not store rows — and every store's
    # identifier set derives from the distinct user set (credential
    # subject dids = users; message from = users, to = the users'
    # issuers). So the plan pays ONE events scan + one integer-key
    # distinct, then builds each store's did set from those survivors:
    # the substring theta-join runs over thousands of identifiers, not
    # 3× the full store. At 100 TB this is one hash aggregate plus a
    # trivial nested-loop over its output.
    users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct()
    )
    user_dids = users.select(
        F.concat(F.lit("did:example:user:"), F.col("user_id")).alias("did")
    )
    arr = F.array(*[F.lit(s) for s in SYMBOLS])
    issuer_dids = users.select(
        F.concat(
            F.lit("did:example:issuer:"),
            F.element_at(arr, (F.col("user_id") % 5 + 1).cast("int")),
        ).alias("did")
    ).distinct()
    cred_dids = user_dids
    # user and issuer dids are disjoint (prefixes differ) and each side
    # is already distinct — the union needs no further dedup
    msg_dids = user_dids.unionByName(issuer_dids)

    def provider(store: DataFrame, name: str) -> DataFrame:
        hits = store.join(
            F.broadcast(qdf), F.col("did").contains(F.col("query"))
        )
        return hits.groupBy("query").agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("did").alias("first_did"),
        ).withColumn("provider", F.lit(name))
    results = (
        provider(aliases, "alias")
        .unionByName(provider(cred_dids, "data-store"))
        .unionByName(provider(msg_dids, "did-comm"))
    )
    # one literal frame, NOT a crossJoin of two local frames: a cartesian
    # of two 32-partition frames schedules 1024 tasks for 18 rows
    grid_rows = ", ".join(
        f"('{q}', '{p}')"
        for q in _DISCOVERY_QUERIES
        for p in ("alias", "data-store", "did-comm")
    )
    grid = spark.sql(
        f"SELECT * FROM VALUES {grid_rows} AS t(query, provider)"
    )
    return grid.join(F.broadcast(results), ["query", "provider"], "left").select(
        "query",
        "provider",
        F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
        "first_did",
    )


QUERIES = {
    "trade_envelope": trade_envelope,
    "trade_vp_roundtrip": vp_roundtrip,
    "trade_did_discovery": did_discovery,
    "trade_did_web_alias": did_web_alias,
    "trade_did_parse": did_parse,
    "trade_authz_check": authz_check,
    "trade_sign_verify": sign_verify,
    "trade_identity_dim": identity_dim,
    "trade_shared_secret": shared_secret_matrix,
    "trade_did_components": did_components,
    "trade_eth_tx_sign": eth_tx_sign,
    "trade_did_resolution": did_resolution,
    "trade_json_parse_route": json_parse_route,
}

_SYMBOLS_SQL = "[" + ", ".join(f"'{s}'" for s in SYMBOLS) + "]"
_SANITIZE = (
    "regexp_replace(regexp_replace(regexp_replace(lower({x}), '[^a-z0-9.-]', '-', 'g'), "
    "'-+', '-', 'g'), '(^-)|(-$)', '', 'g')"
)
_DID_SQL = (
    "'did:web:' || "
    + _SANITIZE.format(x="source || '.github.io'")
    + " || ':' || "
    + _SANITIZE.format(x="'Trade Project_' || lang")
    + " || ':' || "
    + _SANITIZE.format(x="'Sym/' || doc_id::VARCHAR")
)


def _grants_case_sql() -> str:
    arms = " ".join(
        f"WHEN '{etype}' THEN [{', '.join(repr(p) for p in perms)}]"
        + ("::VARCHAR[]" if not perms else "")
        for etype, perms in _GRANTS.items()
    )
    return f"CASE event_type {arms} ELSE []::VARCHAR[] END"


# literal symbol list for the structural identity/resolution oracles
_SYM_VALUES = ", ".join(f"('{s}')" for s in SYMBOLS)


def _discovery_sql() -> str:
    from ssiintegrateddatapipeline_spark.operators.identity import (
        did_web_alias as _alias_fn,
    )

    q_vals = ", ".join(f"('{q}')" for q in _DISCOVERY_QUERIES)
    alias_vals = ", ".join(f"('{_alias_fn(s)}')" for s in SYMBOLS)
    return f"""
        WITH q(query) AS (VALUES {q_vals}),
        prov(provider) AS (VALUES ('alias'), ('data-store'), ('did-comm')),
        aliases(did) AS (VALUES {alias_vals}),
        cred AS (
            SELECT 'did:example:user:' || user_id::VARCHAR AS did FROM events
        ),
        msg AS (
            SELECT 'did:example:user:' || user_id::VARCHAR AS did FROM events
            UNION ALL
            SELECT 'did:example:issuer:'
                   || {_SYMBOLS_SQL}[(user_id % 5 + 1)::INT] FROM events
        ),
        hits AS (
            SELECT q.query, 'alias' AS provider, a.did
            FROM q JOIN aliases a ON contains(a.did, q.query)
            UNION ALL
            SELECT q.query, 'data-store', c.did
            FROM q JOIN cred c ON contains(c.did, q.query)
            UNION ALL
            SELECT q.query, 'did-comm', m.did
            FROM q JOIN msg m ON contains(m.did, q.query)
        ),
        agg AS (
            SELECT query, provider, count(DISTINCT did) AS n_matches,
                   min(did) AS first_did
            FROM hits GROUP BY 1, 2
        )
        SELECT q.query, p.provider,
               coalesce(a.n_matches, 0)::BIGINT AS n_matches, a.first_did
        FROM q CROSS JOIN prov p
        LEFT JOIN agg a ON a.query = q.query AND a.provider = p.provider
    """

ORACLES = {
    # vp_roundtrip: the bundle definition (holder-day, >=2 credentials)
    # and both tamper predicates are replayed in SQL; the Spark side
    # computes every boolean from the REAL Ed25519 JWT crypto, so a break
    # anywhere in the sign->wrap->verify chain flips a value.
    "trade_vp_roundtrip": """
        WITH b AS (
            SELECT user_id, ts::DATE AS presentation_date,
                   count(*)::INT AS n_credentials
            FROM events GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT user_id, presentation_date, n_credentials,
               (user_id % 37 != 0) AS vp_verified,
               (n_credentials
                - CASE WHEN user_id % 41 = 0 THEN 1 ELSE 0 END)::INT
                   AS n_vcs_verified,
               TRUE AS holder_binding_ok,
               64 AS vp_sig_bytes
        FROM b
    """,
    "trade_envelope": f"""
        SELECT md5(event_id::VARCHAR) AS trade_event_id,
               {_SYMBOLS_SQL}[(user_id % 5 + 1)::INT] AS symbol,
               value AS price,
               (event_id % 100 + 1)::DOUBLE AS volume,
               CASE WHEN event_type != 'view' THEN [event_type]
                    ELSE []::VARCHAR[] END AS trade_condition,
               ts AS event_timestamp,
               make_timestamp(epoch_us(ts) + (event_id % 5) * 1000000)
                   AS start_timestamp,
               (event_id % 5)::DOUBLE AS e2e_latency_secs
        FROM events
    """,
    "trade_did_web_alias": f"""
        SELECT doc_id, {_DID_SQL} AS did FROM documents
    """,
    "trade_did_parse": f"""
        WITH d AS (SELECT doc_id, {_DID_SQL} AS did FROM documents),
        parts AS (SELECT doc_id, string_split(did, ':') AS p FROM d)
        SELECT doc_id, p[2] AS method, p[3] AS host, p[4] AS project,
               p[5] AS entity, ends_with(p[3], '.github.io') AS host_valid
        FROM parts
    """,
    "trade_authz_check": f"""
        WITH g AS (
            SELECT event_id, user_id, ts,
                   {_grants_case_sql()} AS granted,
                   ['createVerifiableCredential',
                    'dataStoreSaveVerifiableCredential'] AS required,
                   'did:web:example:' || user_id::VARCHAR AS base
            FROM events
        ),
        s AS (
            SELECT event_id, ts, user_id, base,
                   len(list_filter(required, r -> NOT list_contains(granted, r))) = 0
                       AS has_permissions,
                   CASE WHEN user_id % 2 = 0 THEN base || '/*'
                        ELSE base || '/trades/42' END AS granted_scope,
                   base || '/trades/' || (event_id % 100)::VARCHAR AS resource
            FROM g
        )
        SELECT event_id, has_permissions,
               CASE WHEN ends_with(granted_scope, '/*')
                    THEN starts_with(resource,
                         substr(granted_scope, 1, strlen(granted_scope) - 1))
                    ELSE resource = granted_scope END AS scope_ok,
               make_timestamp(epoch_us(ts) + (user_id % 48) * 3600 * 1000000)
                   > TIMESTAMP '2024-01-15 00:00:00' AS not_expired,
               has_permissions
                 AND (CASE WHEN ends_with(granted_scope, '/*')
                      THEN starts_with(resource,
                           substr(granted_scope, 1, strlen(granted_scope) - 1))
                      ELSE resource = granted_scope END)
                 AND (make_timestamp(epoch_us(ts) + (user_id % 48) * 3600 * 1000000)
                      > TIMESTAMP '2024-01-15 00:00:00') AS authorized
        FROM s
    """,
    "trade_sign_verify": f"""
        SELECT event_id,
               {_SYMBOLS_SQL}[(user_id % 5 + 1)::INT] AS symbol,
               (event_id % 50 = 0) AS tampered,
               (event_id % 50 != 0) AS verified
        FROM events
    """,
    "trade_json_parse_route": """
        WITH wire AS (
            SELECT event_id,
                   CASE WHEN event_id % 97 = 0
                        THEN substr(props, 1, strlen(props) - 1)
                        ELSE props END AS payload
            FROM events
        )
        SELECT event_id,
               CASE WHEN json_valid(payload) THEN 'ok' ELSE 'corrupt' END AS status,
               CASE WHEN json_valid(payload)
                    THEN json_extract(payload, '$.k')::INT END AS k
        FROM wire
    """,
    # Structural oracles for the two crypto queries: the DuckDB side
    # replays every SQL-derivable fact (provider matrix literals, did:web
    # alias/url string derivation, key sizes, JWS header, signature
    # length, validation booleans); the Spark side computes the booleans
    # from the REAL crypto, so any break in the Ed25519/ES256K/base58
    # path flips a value and fails the hash compare.
    "trade_eth_tx_sign": f"""
        WITH sampled AS (
            SELECT {_SYMBOLS_SQL}[(user_id % 5 + 1)::INT] AS symbol,
                   event_id,
                   CAST(round(value * 1e6) AS BIGINT) * 1000000 AS value_wei
            FROM events WHERE event_id % 16 = 0
        )
        SELECT symbol, count(*) AS n_txs,
               sum((((CASE WHEN event_id <= 127 THEN 1 ELSE 1 + (CASE WHEN event_id < 256 THEN 1 WHEN event_id < 65536 THEN 2 WHEN event_id < 16777216 THEN 3 WHEN event_id < 4294967296 THEN 4 WHEN event_id < 1099511627776 THEN 5 WHEN event_id < 281474976710656 THEN 6 WHEN event_id < 72057594037927936 THEN 7 WHEN event_id < 18446744073709551616 THEN 8 ELSE 9 END) END) + (CASE WHEN value_wei <= 127 THEN 1 ELSE 1 + (CASE WHEN value_wei < 256 THEN 1 WHEN value_wei < 65536 THEN 2 WHEN value_wei < 16777216 THEN 3 WHEN value_wei < 4294967296 THEN 4 WHEN value_wei < 1099511627776 THEN 5 WHEN value_wei < 281474976710656 THEN 6 WHEN value_wei < 72057594037927936 THEN 7 WHEN value_wei < 18446744073709551616 THEN 8 ELSE 9 END) END) + 37) + CASE WHEN ((CASE WHEN event_id <= 127 THEN 1 ELSE 1 + (CASE WHEN event_id < 256 THEN 1 WHEN event_id < 65536 THEN 2 WHEN event_id < 16777216 THEN 3 WHEN event_id < 4294967296 THEN 4 WHEN event_id < 1099511627776 THEN 5 WHEN event_id < 281474976710656 THEN 6 WHEN event_id < 72057594037927936 THEN 7 WHEN event_id < 18446744073709551616 THEN 8 ELSE 9 END) END) + (CASE WHEN value_wei <= 127 THEN 1 ELSE 1 + (CASE WHEN value_wei < 256 THEN 1 WHEN value_wei < 65536 THEN 2 WHEN value_wei < 16777216 THEN 3 WHEN value_wei < 4294967296 THEN 4 WHEN value_wei < 1099511627776 THEN 5 WHEN value_wei < 281474976710656 THEN 6 WHEN value_wei < 72057594037927936 THEN 7 WHEN value_wei < 18446744073709551616 THEN 8 ELSE 9 END) END) + 37) < 56 THEN 1 ELSE 2 END))::BIGINT AS total_rlp_bytes,
               count(*) AS n_verified,
               count(*) AS n_low_s,
               count(*) AS n_v_valid,
               count(*) FILTER (event_id % 400 = 0) AS n_addr_recovered
        FROM sampled GROUP BY symbol
    """,
    "trade_did_discovery": _discovery_sql(),
    "trade_did_components": f"""
        WITH syms(symbol) AS (VALUES {_SYM_VALUES}),
        meths(did_method, component_type) AS (VALUES ('key', 'Ed25519VerificationKey2020'), ('ethr', 'EcdsaSecp256k1RecoveryMethod2020'), ('jwk', 'JsonWebKey2020'), ('peer', 'Ed25519VerificationKey2020'), ('pkh', 'EcdsaSecp256k1RecoveryMethod2020'))
        SELECT symbol, did_method,
               TRUE AS component_found,
               component_type,
               TRUE AS controller_matches,
               TRUE AS fragment_wellformed,
               TRUE AS miss_not_found
        FROM syms CROSS JOIN meths
    """,
    "trade_shared_secret": f"""
        WITH syms(symbol) AS (VALUES {_SYM_VALUES}),
        pairs AS (
            SELECT a.symbol AS symbol_a, b.symbol AS symbol_b
            FROM syms a JOIN syms b ON a.symbol < b.symbol
        )
        SELECT symbol_a, symbol_b,
               32 AS secret_bytes,
               TRUE AS symmetric,
               TRUE AS nondegenerate,
               1::BIGINT AS fp_collisions
        FROM pairs
    """,
    "trade_identity_dim": f"""
        WITH syms(symbol) AS (VALUES {_SYM_VALUES}),
        prov(provider) AS (VALUES ('did:key'), ('did:web'), ('did:ethr:sepolia'))
        SELECT symbol, provider,
               split_part(provider, ':', 2) AS did_method,
               TRUE AS did_valid,
               CASE WHEN provider = 'did:web'
                    THEN 'did:web:ssi-pipeline.localhost:trades:'
                         || replace(lower(symbol), ':', '-')
               END AS did_web_alias,
               CASE WHEN provider = 'did:key' THEN 32 ELSE 33 END AS key_bytes,
               CASE WHEN provider = 'did:key'
                    THEN '{{"alg":"EdDSA","typ":"JWT"}}'
                    ELSE '{{"alg":"ES256K","typ":"JWT"}}'
               END AS jwt_header,
               64 AS jwt_sig_bytes,
               TRUE AS authz_ok
        FROM syms CROSS JOIN prov
    """,
    "trade_did_resolution": f"""
        WITH syms(symbol) AS (VALUES {_SYM_VALUES}),
        prov(provider, did_method, n_vm, has_url) AS (VALUES
            ('did:key', 'key', 1, FALSE),
            ('did:web', 'web', 0, TRUE),
            ('did:ethr:sepolia', 'ethr', 1, FALSE),
            ('did:jwk', 'jwk', 1, FALSE))
        SELECT symbol, provider, did_method,
               n_vm AS n_verification_methods,
               CASE WHEN has_url
                    THEN 'https://ssi-pipeline.localhost/trades/'
                         || replace(lower(symbol), ':', '-') || '/did.json'
               END AS document_url,
               TRUE AS key_consistent
        FROM syms CROSS JOIN prov
    """,
}
