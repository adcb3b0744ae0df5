"""End-to-end tests for the gs:// NATIVE service-account (OAuth bearer)
store backend.

The reference speaks gs:// via obstore
(``/root/reference/zcollection/store/obstore_store.py:27``,
``store/factory.py:22-79``), which covers every GCS auth mode for free;
our gs:// surface previously split into HMAC interop (S3FS) or the JVM
gcs-connector.  :class:`GcsFS` closes the service-account gap by
speaking the public JSON API with ``Authorization: Bearer`` — the az
AAD/MSI pattern (fs.py msi_token_provider/AzureBlobFS bearer mode)
cloned onto GCS's documented endpoints.  The emulator
(``gcs_mini.py``) accepts only tokens it issued, so the 401/refresh
machinery is exercised against an independent server.

Mirrors the az bearer suite (test_az_store.py): raw store contract
(write/read/list/rename/CAS), token expiry → 401 → StoreError,
provider-backed refresh-on-401, the GCE metadata stub, fs_for routing,
the scratch bridge (upload_tree / generation-validated localize), and
a collection create → insert → query round-trip over gs://.
"""

import os
import uuid

import numpy as np
import pandas as pd
import pytest

import zcollection_spark as zc
from zcollection_spark.errors import CommitConflictError, StoreError
from zcollection_spark.fs import GcsFS, fs_for

from tests.gcs_mini import issue_token, start_server


@pytest.fixture(scope="session")
def gcs_server():
    """One emulator for the session.  Yields ``(server, endpoint)`` —
    ``server.state`` mints bearer tokens.  Only the endpoint override
    rides the environment; credentials are per-test (env or
    constructor) so routing tests control exactly which auth mode
    fs_for sees."""
    srv, endpoint = start_server()
    old = os.environ.get("GCS_JSON_ENDPOINT")
    os.environ["GCS_JSON_ENDPOINT"] = endpoint
    yield srv, endpoint
    if old is None:
        os.environ.pop("GCS_JSON_ENDPOINT", None)
    else:
        os.environ["GCS_JSON_ENDPOINT"] = old
    srv.shutdown()


@pytest.fixture()
def gcs_root(gcs_server):
    """A fresh bucket per test; returns its gs:// root."""
    return f"gs://zc-{uuid.uuid4().hex[:12]}/store"


def _bearer_fs(gcs_server, **kw):
    srv, _ = gcs_server
    token = kw.pop("token", None) or issue_token(srv.state)
    return GcsFS(bearer_token=token, **kw)


# ---------------------------------------------------------------------------
# raw store contract under bearer auth
# ---------------------------------------------------------------------------


def test_gcs_bearer_contract(gcs_server, gcs_root):
    """The full store contract under Authorization: Bearer — the
    emulator accepts only live tokens it issued; rename is
    rewrite+delete (Objects: rewrite carries the same bearer)."""
    fs = _bearer_fs(gcs_server)
    fs.write_text(f"{gcs_root}/p/num=1/a.txt", "payload")
    assert fs.read_text(f"{gcs_root}/p/num=1/a.txt") == "payload"
    assert fs.exists_file(f"{gcs_root}/p/num=1/a.txt")
    assert fs.exists(f"{gcs_root}/p")          # prefix fiction
    assert fs.mtime(f"{gcs_root}/p/num=1/a.txt") is not None
    fs.write_text(f"{gcs_root}/p/num=1/b.txt", "2")
    assert fs.list_files(f"{gcs_root}/p/num=1") == ["a.txt", "b.txt"]
    assert fs.list_dirs(f"{gcs_root}/p") == ["num=1"]
    assert fs.walk_files(f"{gcs_root}/p") == ["num=1/a.txt",
                                              "num=1/b.txt"]
    assert fs.list_partition_dirs(f"{gcs_root}/p", 1) == ["num=1"]
    assert fs.rename(f"{gcs_root}/p", f"{gcs_root}/q")  # copy+delete
    assert fs.read_text(f"{gcs_root}/q/num=1/a.txt") == "payload"
    assert not fs.exists(f"{gcs_root}/p")
    # CAS via generation preconditions: create-only, then
    # replace-exactly-this-generation; losers get 412
    tok1 = fs.write_if(f"{gcs_root}/state.json", "v1", None)
    assert tok1
    with pytest.raises(CommitConflictError):
        fs.write_if(f"{gcs_root}/state.json", "v1b", None)
    tok2 = fs.write_if(f"{gcs_root}/state.json", "v2", tok1)
    assert tok2 != tok1
    with pytest.raises(CommitConflictError):
        fs.write_if(f"{gcs_root}/state.json", "v3", tok1)  # stale
    text, gen = fs.read_versioned(f"{gcs_root}/state.json")
    assert text == "v2" and gen == tok2
    assert fs.read_versioned(f"{gcs_root}/nope.json") == (None, None)
    fs.delete(f"{gcs_root}/q")
    assert not fs.exists(f"{gcs_root}/q")
    with pytest.raises(FileNotFoundError):
        fs.read_bytes(f"{gcs_root}/q/num=1/a.txt")


def test_gcs_move_file_and_missing_source(gcs_server, gcs_root):
    fs = _bearer_fs(gcs_server)
    fs.write_text(f"{gcs_root}/src.txt", "m")
    assert fs.move_file(f"{gcs_root}/src.txt", f"{gcs_root}/dst.txt")
    assert fs.read_text(f"{gcs_root}/dst.txt") == "m"
    assert not fs.exists_file(f"{gcs_root}/src.txt")
    assert not fs.move_file(f"{gcs_root}/gone.txt", f"{gcs_root}/x.txt")
    # rename refuses to clobber an existing destination
    fs.write_text(f"{gcs_root}/other.txt", "o")
    assert not fs.rename(f"{gcs_root}/dst.txt", f"{gcs_root}/other.txt")


def test_gcs_list_pagination(gcs_server, gcs_root):
    """The pageToken loop is real: shrink the emulator page size and
    walk more objects than one page holds."""
    srv, _ = gcs_server
    fs = _bearer_fs(gcs_server)
    for i in range(7):
        fs.write_text(f"{gcs_root}/pg/f{i}.txt", str(i))
    old = srv.state.page_size
    srv.state.page_size = 2
    try:
        assert fs.walk_files(f"{gcs_root}/pg") == [
            f"f{i}.txt" for i in range(7)]
    finally:
        srv.state.page_size = old


# ---------------------------------------------------------------------------
# 401 contract: expiry, refresh, provider
# ---------------------------------------------------------------------------


def test_gcs_bearer_expired_or_unknown_401(gcs_server, gcs_root):
    """An expired or never-issued token comes back 401 from the
    emulator and surfaces as a credentials StoreError (no silent retry
    storm) when no provider can refresh it."""
    srv, _ = gcs_server
    expired = issue_token(srv.state, ttl=-10)
    fs = GcsFS(bearer_token=expired)
    with pytest.raises(StoreError, match="401 under bearer"):
        fs.write_text(f"{gcs_root}/x.txt", "data")
    fs2 = GcsFS(bearer_token="never-issued")
    with pytest.raises(StoreError, match="401 under bearer"):
        fs2.read_text(f"{gcs_root}/x.txt")


def test_gcs_provider_refreshes_on_401(gcs_server, gcs_root):
    """A provider-backed client survives mid-session expiry: the 401
    triggers exactly one refresh and the request succeeds with the new
    token."""
    import time
    srv, _ = gcs_server
    calls = []

    def provider():
        # first token dies immediately; the refreshed one is live
        ttl = -5 if not calls else 3600
        token = issue_token(srv.state, ttl=ttl)
        calls.append(token)
        return token, time.time() + max(ttl, 0)

    fs = GcsFS(token_provider=provider)
    fs.write_text(f"{gcs_root}/r.txt", "refreshed")
    assert fs.read_text(f"{gcs_root}/r.txt") == "refreshed"
    assert len(calls) == 2  # initial mint + exactly one 401 refresh


def test_gce_metadata_provider_against_stub(gcs_server, gcs_root,
                                            monkeypatch):
    """gce_metadata_token_provider speaks the documented metadata-server
    shape (Metadata-Flavor header, access_token/expires_in SECONDS) —
    driven against the emulator's stub; fs_for routes gs:// to a
    provider-backed GcsFS when only GCE_METADATA_ENDPOINT is set."""
    from zcollection_spark.fs import gce_metadata_token_provider
    srv, endpoint = gcs_server
    provider = gce_metadata_token_provider(endpoint=endpoint)
    token, expires = provider()
    assert token in srv.state.tokens
    import time
    assert expires > time.time()       # TTL seconds -> absolute epoch
    fs = GcsFS(token_provider=gce_metadata_token_provider(
        endpoint=endpoint))
    fs.write_text(f"{gcs_root}/m.txt", "via-metadata")
    assert fs.read_text(f"{gcs_root}/m.txt") == "via-metadata"
    # dispatch: metadata endpoint alone (no HMAC pair, no static
    # bearer) routes gs:// to the native client with a provider
    monkeypatch.delenv("GCS_ACCESS_KEY_ID", raising=False)
    monkeypatch.delenv("GCS_SECRET_ACCESS_KEY", raising=False)
    monkeypatch.delenv("GCS_BEARER_TOKEN", raising=False)
    monkeypatch.setenv("GCE_METADATA_ENDPOINT", endpoint)
    routed = fs_for(gcs_root)
    assert isinstance(routed, GcsFS)
    assert routed._token_provider is not None
    routed.write_text(f"{gcs_root}/d.txt", "dispatched")
    assert routed.read_text(f"{gcs_root}/d.txt") == "dispatched"


def test_gce_metadata_missing_expires_in_caches_token(gcs_server,
                                                      gcs_root):
    """r10-advice regression: a metadata response WITHOUT expires_in
    used to produce expiry = now+0, which the 5-minute early-refresh
    window read as already-expired — re-fetching a token on every
    request.  Missing TTL must mean "no known expiry" (cache until a
    real 401)."""
    from zcollection_spark.fs import gce_metadata_token_provider
    srv, endpoint = gcs_server
    srv.state.meta_ttl = 0          # stub omits expires_in
    try:
        provider = gce_metadata_token_provider(endpoint=endpoint)
        token, expires = provider()
        assert expires is None
        minted_before = len(srv.state.tokens)
        fs = GcsFS(token_provider=provider)
        fs.write_text(f"{gcs_root}/ttl.txt", "cached")
        assert fs.read_text(f"{gcs_root}/ttl.txt") == "cached"
        # several requests, exactly ONE more token minted
        assert len(srv.state.tokens) == minted_before + 1
    finally:
        srv.state.meta_ttl = 3600.0


def test_gcs_dispatch_matrix(gcs_server, gcs_root, monkeypatch):
    """Routing priority for gs://: HMAC pair -> S3 interop (existing
    path, unchanged); static bearer or metadata endpoint -> native
    GcsFS; nothing -> the JVM connector branch (which needs a
    SparkSession and says so)."""
    monkeypatch.delenv("GCS_ACCESS_KEY_ID", raising=False)
    monkeypatch.delenv("GCS_SECRET_ACCESS_KEY", raising=False)
    monkeypatch.delenv("GCE_METADATA_ENDPOINT", raising=False)
    srv, _ = gcs_server
    monkeypatch.setenv("GCS_BEARER_TOKEN", issue_token(srv.state))
    routed = fs_for(gcs_root)
    assert isinstance(routed, GcsFS)
    assert routed._token_provider is None      # static token mode
    routed.write_text(f"{gcs_root}/s.txt", "static")
    assert routed.read_text(f"{gcs_root}/s.txt") == "static"
    # same env -> same cached client (one connection pool per cred)
    assert fs_for(gcs_root) is routed
    # no credential at all: gs:// falls to the JVM connector branch,
    # which requires a SparkSession — never a silent LocalFS
    monkeypatch.delenv("GCS_BEARER_TOKEN", raising=False)
    with pytest.raises(ValueError, match="SparkSession"):
        fs_for(gcs_root)


# ---------------------------------------------------------------------------
# scratch bridge + collection round-trip
# ---------------------------------------------------------------------------


def test_gcs_localize_validates_generations(gcs_server, gcs_root,
                                            tmp_path):
    """The local mirror re-downloads ONLY changed generations and purges
    vanished objects — a stale generation can never leak into a scan."""
    fs = _bearer_fs(gcs_server, scratch_dir=str(tmp_path / "scratch"))
    fs.write_text(f"{gcs_root}/data/part=1/f.txt", "v1")
    fs.write_text(f"{gcs_root}/data/part=2/g.txt", "keep")
    mirror = fs.localize(f"{gcs_root}/data")
    f_local = os.path.join(mirror, "part=1", "f.txt")
    assert open(f_local).read() == "v1"
    stamp = os.stat(f_local).st_mtime_ns
    # unchanged generation -> no re-download (mtime untouched)
    assert fs.localize(f"{gcs_root}/data") == mirror
    assert os.stat(f_local).st_mtime_ns == stamp
    # new generation -> re-fetched; deleted object -> purged
    fs.write_text(f"{gcs_root}/data/part=1/f.txt", "v2")
    fs.delete(f"{gcs_root}/data/part=2/g.txt")
    fs.localize(f"{gcs_root}/data")
    assert open(f_local).read() == "v2"
    assert not os.path.exists(os.path.join(mirror, "part=2", "g.txt"))


def test_gcs_upload_tree_skips_hidden(gcs_server, gcs_root, tmp_path):
    fs = _bearer_fs(gcs_server, scratch_dir=str(tmp_path / "scratch"))
    src = tmp_path / "tree"
    (src / "num=1").mkdir(parents=True)
    (src / "num=1" / "a.parquet").write_text("A")
    (src / "_tmp").mkdir()
    (src / "_tmp" / "junk").write_text("x")
    (src / "num=1" / ".crc").write_text("y")
    uploaded = fs.upload_tree(str(src), f"{gcs_root}/tree")
    assert uploaded == ["num=1/a.parquet"]
    assert fs.walk_files(f"{gcs_root}/tree") == ["num=1/a.parquet"]


def test_gcs_collection_roundtrip(gcs_server, gcs_root, spark,
                                  seq_schema, monkeypatch):
    """create -> insert -> query over gs:// under bearer auth: the
    catalog CAS commits ride generation preconditions and the bulk
    plane rides the scratch bridge (same shape as the az and s3
    collection suites)."""
    srv, _ = gcs_server
    monkeypatch.delenv("GCS_ACCESS_KEY_ID", raising=False)
    monkeypatch.delenv("GCS_SECRET_ACCESS_KEY", raising=False)
    monkeypatch.setenv("GCS_BEARER_TOKEN", issue_token(srv.state))
    path = f"{gcs_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    pdf = pd.DataFrame({
        "num": np.array([0, 0, 1, 2], dtype=np.int64),
        "value": [[1.0] * 3] * 4,
        "static": [[10.0, 20.0, 30.0]] * 4})
    bound = seq_schema.with_partition_axis("num")
    coll.insert(spark.createDataFrame(pdf,
                                      schema=bound.to_struct_type()))
    out = zc.open_collection(spark, path).query(filters="num >= 1")
    rows = out.select("num").orderBy("num").collect()
    assert [r.num for r in rows] == [1, 2]


# ---------------------------------------------------------------------------
# zarr v3 layout on gs:// under bearer auth (parity with test_zarr3_s3)
# ---------------------------------------------------------------------------


def test_zarr_array_roundtrip_on_gcs(gcs_server, gcs_root, monkeypatch):
    """Core zarr array write/read straight against GCS JSON-API objects
    (unsharded and sharded, including the ranged-GET partial read
    through ``GcsBlobs.read_at``)."""
    import numpy as np
    from zcollection_spark.zarr3 import core
    srv, _ = gcs_server
    monkeypatch.delenv("GCS_ACCESS_KEY_ID", raising=False)
    monkeypatch.delenv("GCS_SECRET_ACCESS_KEY", raising=False)
    monkeypatch.setenv("GCS_BEARER_TOKEN", issue_token(srv.state))
    data = np.arange(1000, dtype=np.float64)
    core.write_array(f"{gcs_root}/arr", data, chunk_shape=(128,))
    np.testing.assert_array_equal(core.read_array(f"{gcs_root}/arr"),
                                  data)
    spath = f"{gcs_root}/sharded"
    core.write_array(spath, data, chunk_shape=(64,), shard_shape=(256,))
    np.testing.assert_array_equal(core.read_array(spath), data)
    # partial read: index tail + selected inner chunks via Range GETs
    sl = core.read_array_slice(spath, 100, 300)
    np.testing.assert_array_equal(sl, data[100:300])


def test_zarr_collection_roundtrip_on_gcs(gcs_server, gcs_root, spark,
                                          monkeypatch):
    """create → insert → query on gs:// under bearer auth: executors
    write zarr chunk objects through the JSON API (blob_conf ships the
    token into Python workers — env set after worker start never
    reaches them) and the DataSource reader pulls chunks back with
    bearer GETs."""
    import numpy as np
    import pandas as pd
    from zcollection_spark.zarr3.collection import (
        create_zarr_collection, open_zarr_collection)
    srv, _ = gcs_server
    monkeypatch.delenv("GCS_ACCESS_KEY_ID", raising=False)
    monkeypatch.delenv("GCS_SECRET_ACCESS_KEY", raising=False)
    monkeypatch.setenv("GCS_BEARER_TOKEN", issue_token(srv.state))
    schema = (zc.SchemaBuilder().add_dimension("num")
              .add_variable("num", "int64", ("num",))
              .add_variable("v", "float64", ("num",))
              .build("num"))
    path = f"{gcs_root}/zcoll"
    coll = create_zarr_collection(spark, path, schema=schema, axis="num",
                                  partitioning=zc.Sequence(("num",)))
    pdf = pd.DataFrame({"num": np.array([0, 0, 1, 2], dtype=np.int64),
                        "v": [1.0, 2.0, 3.0, 4.0]})
    coll.insert(spark.createDataFrame(pdf,
                                      schema=schema.to_struct_type()))
    out = open_zarr_collection(spark, path).query(filters="num >= 1")
    rows = sorted((r.num, r.v) for r in out.collect())
    assert rows == [(1, 3.0), (2, 4.0)]


def test_gcs_publish_leaves_no_partial_state_on_crash(spark, gcs_server,
                                                      gcs_root,
                                                      monkeypatch):
    """The staging protocol's no-partial-state guarantee holds on gs://
    exactly as on s3:// and az://: a crash mid-publish (after k
    rewrite+delete moves) is recoverable and queries converge to
    exactly the new generation, never a mix."""
    srv, _ = gcs_server
    monkeypatch.delenv("GCS_ACCESS_KEY_ID", raising=False)
    monkeypatch.delenv("GCS_SECRET_ACCESS_KEY", raising=False)
    monkeypatch.setenv("GCS_BEARER_TOKEN", issue_token(srv.state))
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())

    def df(coll, nums, value):
        pdf = pd.DataFrame({
            "i": np.arange(len(nums), dtype=np.int64),
            "value": np.full(len(nums), value, dtype=np.float64),
            "num": np.array(nums, dtype=np.int64)})
        return spark.createDataFrame(pdf,
                                     schema=coll.schema.to_struct_type())

    class CrashAfterMoves:
        def __init__(self, inner, allowed):
            self._inner = inner
            self._allowed = allowed
            self.moves = 0

        def _gate(self, src, dst):
            if "_staging" in src or "_staging" in dst:
                if self.moves >= self._allowed:
                    raise RuntimeError("injected crash during publish")
                self.moves += 1

        def rename(self, src, dst):
            self._gate(src, dst)
            return self._inner.rename(src, dst)

        def move_file(self, src, dst):  # the publish hot path
            self._gate(src, dst)
            return self._inner.move_file(src, dst)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    for allowed in (0, 2):
        path = f"{gcs_root}/coll-{allowed}"
        coll = zc.create_collection(spark, path, schema=schema,
                                    axis="i",
                                    partitioning=zc.Sequence(("num",)))
        assert isinstance(coll._fs, GcsFS)
        coll.insert(df(coll, [0, 0, 1, 2], 1.0))

        real_fs = coll._fs
        coll._fs = CrashAfterMoves(real_fs, allowed)
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                coll.insert(df(coll, [0, 0, 1, 2], 9.0))
        finally:
            coll._fs = real_fs
        assert coll.repair_catalog() == ["num=0", "num=1", "num=2"]
        rows = coll.query().collect()
        assert len(rows) == 4, f"allowed={allowed}"
        assert all(r["value"] == 9.0 for r in rows)


# ---------------------------------------------------------------------------
# JSON-keyfile (service-account JWT-bearer) grant — the off-GCE mode
# ---------------------------------------------------------------------------

def _keyfile(gcs_server, **kw):
    from tests.gcs_mini import register_service_account
    srv, endpoint = gcs_server
    return register_service_account(srv.state, endpoint, **kw)


def test_pem_parser_matches_cryptography_numbers(gcs_server):
    """The hand-built DER walk recovers exactly the (n, e, d) that
    generated the key — checked against cryptography's own numbers,
    for BOTH PEM encodings (PKCS#8, what Google keyfiles carry, and
    PKCS#1)."""
    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import rsa

    from zcollection_spark.fs import _pem_rsa_private_numbers
    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    nums = key.private_numbers()
    want = (nums.public_numbers.n, nums.public_numbers.e, nums.d)
    for fmt in (serialization.PrivateFormat.PKCS8,
                serialization.PrivateFormat.TraditionalOpenSSL):
        pem = key.private_bytes(serialization.Encoding.PEM, fmt,
                                serialization.NoEncryption()).decode()
        assert _pem_rsa_private_numbers(pem) == want, fmt


def test_rs256_signature_verifies_independently():
    """A pure-python signature must verify under cryptography's
    RSASSA-PKCS1-v1_5/SHA-256 — the signer and verifier are different
    implementations, so an EMSA encoding bug cannot self-cancel."""
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import padding, rsa

    from zcollection_spark.fs import (_pem_rsa_private_numbers,
                                      _rs256_sign)
    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    pem = key.private_bytes(
        serialization.Encoding.PEM, serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption()).decode()
    n, _, d = _pem_rsa_private_numbers(pem)
    msg = b"header.payload"
    key.public_key().verify(_rs256_sign(msg, n, d), msg,
                            padding.PKCS1v15(), hashes.SHA256())


def test_gcs_keyfile_grant_end_to_end(gcs_server, gcs_root):
    """Keyfile provider -> RS256 JWT assertion -> emulator /token
    (which verifies the signature with an independent implementation)
    -> minted bearer -> store ops."""
    from zcollection_spark.fs import gcs_keyfile_token_provider
    kf = _keyfile(gcs_server)
    fs = GcsFS(token_provider=gcs_keyfile_token_provider(kf))
    fs.write_text(f"{gcs_root}/a.txt", "payload")
    assert fs.read_text(f"{gcs_root}/a.txt") == "payload"
    assert fs.list_files(gcs_root) == ["a.txt"]
    tok = fs.write_if(f"{gcs_root}/state.json", "v1", None)
    with pytest.raises(CommitConflictError):
        fs.write_if(f"{gcs_root}/state.json", "v1b", None)
    assert fs.write_if(f"{gcs_root}/state.json", "v2", tok) != tok


def test_gcs_keyfile_refreshes_on_401(gcs_server, gcs_root):
    """Mid-session token expiry under the keyfile grant: the 401 path
    re-runs the JWT grant (a fresh assertion, a fresh token) without
    surfacing an error."""
    from zcollection_spark.fs import gcs_keyfile_token_provider
    srv, _ = gcs_server
    kf = _keyfile(gcs_server, email="svc-r401@test.iam.example.com")
    fs = GcsFS(token_provider=gcs_keyfile_token_provider(kf))
    fs.write_text(f"{gcs_root}/a.txt", "1")
    # kill the live token server-side; the next request 401s and the
    # client must mint a new assertion
    srv.state.tokens[fs._bearer] = 0.0
    first = fs._bearer
    assert fs.read_text(f"{gcs_root}/a.txt") == "1"
    assert fs._bearer != first


def test_gcs_keyfile_bad_signature_rejected(gcs_server, gcs_root):
    """An assertion signed by a key the emulator has NOT registered
    (same iss, different keypair) is 400 invalid_grant — surfaced as a
    loud StoreError, never a silent retry loop."""
    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import rsa

    from zcollection_spark.fs import gcs_keyfile_token_provider
    kf = _keyfile(gcs_server, email="svc-bad@test.iam.example.com")
    rogue = rsa.generate_private_key(public_exponent=65537,
                                     key_size=2048)
    kf["private_key"] = rogue.private_bytes(
        serialization.Encoding.PEM, serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption()).decode()
    fs = GcsFS(token_provider=gcs_keyfile_token_provider(kf))
    with pytest.raises(StoreError, match="JWT grant failed"):
        fs.write_text(f"{gcs_root}/a.txt", "x")


def test_gcs_keyfile_env_dispatch(gcs_server, gcs_root, tmp_path,
                                  monkeypatch):
    """GCS_KEYFILE routes gs:// to the native client with the keyfile
    provider (static GCS_BEARER_TOKEN still wins when both are set)."""
    import json as jsonmod
    kf = _keyfile(gcs_server, email="svc-env@test.iam.example.com")
    path = tmp_path / "sa.json"
    path.write_text(jsonmod.dumps(kf))
    monkeypatch.delenv("GCS_BEARER_TOKEN", raising=False)
    monkeypatch.setenv("GCS_KEYFILE", str(path))
    routed = fs_for(gcs_root)
    assert isinstance(routed, GcsFS)
    routed.write_text(f"{gcs_root}/a.txt", "via-env")
    assert routed.read_text(f"{gcs_root}/a.txt") == "via-env"
    assert fs_for(gcs_root) is routed          # cache hit


def test_gcs_keyfile_rotation_is_picked_up(gcs_server, gcs_root,
                                           tmp_path):
    """Standard GCP key rotation swaps the keyfile CONTENTS at the same
    path: the provider must re-read per grant, or every refresh after
    rotation signs with the revoked key forever."""
    import json as jsonmod

    from tests.gcs_mini import register_service_account
    from zcollection_spark.fs import gcs_keyfile_token_provider
    srv, endpoint = gcs_server
    email = "svc-rot@test.iam.example.com"
    kf1 = register_service_account(srv.state, endpoint, email=email)
    path = tmp_path / "sa.json"
    path.write_text(jsonmod.dumps(kf1))
    fs = GcsFS(token_provider=gcs_keyfile_token_provider(str(path)))
    fs.write_text(f"{gcs_root}/a.txt", "1")
    # rotate: a NEW keypair replaces both the registered public half
    # and the keyfile contents at the same path; the old key is revoked
    kf2 = register_service_account(srv.state, endpoint, email=email)
    path.write_text(jsonmod.dumps(kf2))
    srv.state.tokens[fs._bearer] = 0.0        # kill the live token
    assert fs.read_text(f"{gcs_root}/a.txt") == "1"   # re-grant works


def test_gcs_pinned_retention_is_server_side_rewrite(gcs_server,
                                                     gcs_root, spark,
                                                     seq_schema,
                                                     monkeypatch):
    """Retention on gs:// under bearer auth: copy-on-republish runs as
    Objects:rewrite (server-side, bearer carried) and the pinned
    generation reads bit-identical after the republish."""
    srv, _ = gcs_server
    monkeypatch.delenv("GCS_ACCESS_KEY_ID", raising=False)
    monkeypatch.delenv("GCS_SECRET_ACCESS_KEY", raising=False)
    monkeypatch.setenv("GCS_BEARER_TOKEN", issue_token(srv.state))
    path = f"{gcs_root}/coll_pin"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    bound = seq_schema.with_partition_axis("num")

    def df(nums, value):
        pdf = pd.DataFrame({
            "num": np.array(nums, dtype=np.int64),
            "value": [[value] * 3] * len(nums),
            "static": [[10.0, 20.0, 30.0]] * len(nums)})
        return spark.createDataFrame(pdf, schema=bound.to_struct_type())

    coll.insert(df([0, 1], 1.0))
    g = coll.generation()
    coll.pin_generation(g)
    copies0 = coll._fs.api_counts["copy"]
    coll.insert(df([0], 9.0), merge="replace")
    assert coll._fs.api_counts["copy"] > copies0   # Objects:rewrite
    rows = sorted((r["num"], tuple(r["value"])) for r in
                  coll.query(at_generation=g).collect())
    assert rows == [(0, (1.0, 1.0, 1.0)), (1, (1.0, 1.0, 1.0))]
    live = sorted((r["num"], tuple(r["value"])) for r in
                  coll.query().collect())
    assert (0, (9.0, 9.0, 9.0)) in live


def test_gcs_move_and_copy_source_vanishing_mid_copy(gcs_server, gcs_root,
                                                     monkeypatch):
    """move_file/copy_file rewrite first and read the rewrite's 404 as
    "source missing" (False), so a source deleted by a concurrent mover
    between any check and the copy never raises — staging's roll-forward
    acts on that False.  The rewrite is the first request: no HEAD."""
    fs = _bearer_fs(gcs_server)
    real = GcsFS._request

    def vanish(self, method, url, *a, **kw):
        if "/rewriteTo/" in url:
            real(self, "DELETE", url.split("/rewriteTo/")[0])
        return real(self, method, url, *a, **kw)

    for op in (fs.move_file, fs.copy_file):
        fs.write_text(f"{gcs_root}/src.txt", "x")
        fs.api_counts.clear()
        monkeypatch.setattr(GcsFS, "_request", vanish)
        assert op(f"{gcs_root}/src.txt", f"{gcs_root}/dst.txt") is False
        monkeypatch.setattr(GcsFS, "_request", real)
        assert fs.api_counts.get("head", 0) == 0
        assert not fs.exists_file(f"{gcs_root}/dst.txt")
