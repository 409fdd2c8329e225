"""fsio (Hadoop FileSystem layer) + storage-portable layout lifecycles.

Before fsio, every layout's driver-side state (meta JSON, commit
markers, tombstone probes, manifest pointers, chunk drops) used
`open()` / `os.path` — local-filesystem-only. A layout addressed by ANY
URI (s3://, hdfs://, even file://) either crashed on the meta write or,
worse, silently skipped a tombstone anti-join and resurrected deleted
rows (the advisor's round-6 `os.path.isdir` routing finding,
generalized to the whole package).

The `file://` scheme is the portability proxy available in this
container: it exercises the exact Hadoop FileSystem code path every
remote scheme goes through (Path→getFileSystem→open/create/delete),
while `os.path`/`open()` on a `file:///x` string fails — so every
lifecycle below was RED before the fsio migration and green after.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from vector_db_example_spark import fsio
from vector_db_example_spark.sources.tables import load_table


#: A layout root name holding glob metacharacters, and a sibling name
#: that the root's name matches when read as a pattern.
ODD, DECOY = "odd[1]{a,b}*?", "odd1aXY"


@pytest.fixture
def uri_root(tmp_path):
    return f"file://{tmp_path}"


def test_fsio_roundtrip_plain_and_uri(spark, tmp_path):
    for root in (str(tmp_path / "plain"), f"file://{tmp_path}/uri"):
        p = f"{root}/meta.json"
        fsio.write_text(p, '{"a": 1}')
        assert fsio.exists(p) and fsio.read_text(p) == '{"a": 1}'
        fsio.touch(f"{root}/marker")
        assert fsio.exists(f"{root}/marker")
        assert fsio.is_dir(root) and not fsio.is_dir(p)
        assert {"meta.json", "marker"} <= set(fsio.list_names(root))
        assert fsio.delete(root) and not fsio.exists(root)
    assert fsio.list_names(str(tmp_path / "absent")) == []
    assert fsio.delete(str(tmp_path / "absent")) is False


def test_fsio_atomic_write_overwrites_and_cleans_tmp(spark, tmp_path):
    p = f"file://{tmp_path}/m.json"
    fsio.atomic_write_text(p, "v1")
    fsio.atomic_write_text(p, "v2")  # the rename-over-existing path
    assert fsio.read_text(p) == "v2"
    leftovers = [n for n in fsio.list_names(f"file://{tmp_path}") if "tmp" in n]
    assert leftovers == [], leftovers


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_read_layout_resolves_only_probed_partitions(spark, tmp_path, scheme):
    """A probed read_layout skips a probed directory that does not exist,
    reads an empty frame of the layout schema when none does, and
    matches a root holding glob metacharacters literally, probed or read
    whole: the decoy sibling ``DECOY`` matches the root's name read as a
    pattern."""
    import json

    from pyspark.sql.types import StructType

    from vector_db_example_spark.sources.tables import read_layout

    rows = [(i, i % 4) for i in range(20)]
    decoy = f"{scheme}{tmp_path}/{DECOY}/layout"
    spark.createDataFrame([(100 + i, p) for i, p in rows], "id long, part int").write.partitionBy(
        "part"
    ).parquet(decoy)
    for name in ("plain", ODD):
        root = f"{scheme}{tmp_path}/{name}/layout"
        spark.createDataFrame(rows, "id long, part int").write.partitionBy("part").parquet(root)
        schema_json = spark.read.parquet(root).schema.json()

        def ids(values, root=root, schema_json=schema_json):
            df = read_layout(spark, root, schema_json, "part", values)
            assert df.schema == StructType.fromJson(json.loads(schema_json))
            return sorted(r.id for r in df.collect())

        assert ids([3, 1, 1]) == [i for i, p in rows if p in (1, 3)]
        assert ids([1, 7]) == [i for i, p in rows if p == 1]
        assert ids([2]) == [i for i, p in rows if p == 2]
        assert ids([7, 9]) == [] and ids([7]) == []
        assert ids(None) == [i for i, _ in rows]
        assert fsio.existing_children(root, ["part=7", "part=3", "part=0"]) == ["part=0", "part=3"]
    assert fsio.existing_children(f"{scheme}{tmp_path}/absent", ["part=1", "part=2"]) == []
    assert fsio.existing_children(f"{scheme}{tmp_path}/absent", ["part=1"]) == []


def test_layout_lifecycles_under_glob_metachar_root(spark, tmp_path):
    """The side-table reads (BM25 stats and doclens, tombstones, dedup
    bands and signatures) match a root holding glob metacharacters
    literally. Under root ``ODD``, with decoy layouts under ``DECOY``:
    an inverted build → search → delete → search → compact → search and
    its layout stats answer exactly as under a plain root, and a dedup
    build → filter → delete → filter gives its own corpus's verdicts."""
    from vector_db_example_spark.index.dedupidx import (
        build_dedup_index,
        dedup_index_delete,
        dedup_index_filter,
    )
    from vector_db_example_spark.index.inverted import (
        bm25_search_inverted,
        build_inverted_index,
        compact_inverted_index,
        delete_from_inverted_index,
    )
    from vector_db_example_spark.index.stats import layout_stats

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    terms = ["vector", "stream", "window"]
    build_inverted_index(docs.filter("doc_id % 2 = 1"), f"{tmp_path}/{DECOY}/inv", 8)

    def inverted_lifecycle(name):
        idx = build_inverted_index(docs.filter("doc_id % 2 = 0"), f"{tmp_path}/{name}/inv", 8)

        def top(layout):
            return [tuple(r) for r in bm25_search_inverted(spark, layout, terms).collect()]

        before = top(idx)
        deleted = delete_from_inverted_index(idx, [before[0][0]])
        after = top(idx)
        stats = sorted(map(tuple, layout_stats(spark, idx).collect()))
        compacted = compact_inverted_index(spark, idx, f"{tmp_path}/{name}/inv_v2")
        return before, deleted, after, stats, top(compacted)

    want = inverted_lifecycle("plain")
    assert want[1] == 1 and want[0] != want[2] == want[4]
    assert inverted_lifecycle(ODD) == want

    schema = "doc_id long, text string"
    fox = "the quick brown fox jumps over the lazy dog"
    build_dedup_index(spark.createDataFrame([(5, "decoy corpus text")], schema), f"{tmp_path}/{DECOY}/dd")
    idx = build_dedup_index(
        spark.createDataFrame([(1, fox), (2, "band keys under an odd root")], schema),
        f"{tmp_path}/{ODD}/dd",
    )
    batch = spark.createDataFrame([(10, fox), (11, "decoy corpus text")], schema)

    def verdicts():
        return {
            r["doc_id"]: (r["corpus_dup"], r["within_dup"])
            for r in dedup_index_filter(spark, idx, batch, threshold=0.5)[0].collect()
        }

    assert verdicts() == {10: (True, False), 11: (False, False)}
    assert dedup_index_delete(spark, idx, [1]) == 1
    assert verdicts() == {10: (False, False), 11: (False, False)}


def _current_meta(spark, kind: str):
    """A layout handle class, its meta file name and a meta of the
    current format that must load: as ``save_meta`` writes it, the dedup
    meta also carrying the ``"sig_buckets": 0`` that earlier flat builds
    wrote."""
    from vector_db_example_spark.index.dedupidx import DedupIndex
    from vector_db_example_spark.index.inverted import InvertedIndex
    from vector_db_example_spark.index.ivf import IVFIndex
    from vector_db_example_spark.index.lsh import LSHIndex

    def schema(ddl):
        return spark.createDataFrame([], ddl).schema.json()

    vec = {"vector_col": "embedding", "id_col": "doc_id"}
    inverted = {"n_buckets": 8, "id_col": "doc_id", "text_col": "text"}
    return {
        "dedup": (DedupIndex, "_dedup_meta.json", {
            "shingle_k": 3, "n_hashes": 16, "bands": 8, "id_col": "doc_id",
            "text_col": "text", "sig_buckets": 0, "hash_format": "binary",
        }),
        "ivf": (IVFIndex, "_ivf_meta.json", {
            **vec, "centroids": [[0.0, 1.0]],
            "schema": schema("doc_id long, embedding array<float>, cell_id int"),
        }),
        "lsh": (LSHIndex, "_lsh_meta.json", {
            **vec, "planes": [[1.0, 0.0]],
            "schema": schema("doc_id long, embedding array<float>, bucket int"),
        }),
        "bm25": (InvertedIndex, "_inverted_meta.json", {
            **inverted, "positional": False,
            "postings_schema": schema(
                "term string, doc_id long, tf long, __dl int, bucket int"
            ),
        }),
        "positional": (InvertedIndex, "_inverted_meta.json", {
            **inverted, "positional": True,
            "postings_schema": schema(
                "term string, doc_id long, positions array<int>, bucket int"
            ),
        }),
    }[kind]


def _no_dl(meta):
    meta["postings_schema"] = meta["postings_schema"].replace('"__dl"', '"__len"')


@pytest.mark.parametrize(
    "kind, make_old, field",
    [
        ("dedup", lambda m: m.pop("hash_format"), "hash_format"),
        ("dedup", lambda m: m.update(sig_buckets=8), "sig_buckets"),
        ("ivf", lambda m: m.update(schema=None), "schema"),
        ("lsh", lambda m: m.update(schema=None), "schema"),
        ("bm25", lambda m: m.pop("positional"), "positional"),
        ("bm25", lambda m: m.update(postings_schema=None), "postings_schema"),
        ("bm25", _no_dl, "__dl"),
        ("positional", lambda m: m.pop("positional"), "positional"),
    ],
    ids=[
        "dedup-hex", "dedup-bucketed", "ivf-no-schema", "lsh-no-schema",
        "bm25-no-flag", "bm25-no-schema", "bm25-no-dl", "positional-no-flag",
    ],
)
def test_load_rejects_pre_format_metas(spark, tmp_path, kind, make_old, field):
    """Each layout handle has one stored format: a current meta loads,
    and ``load`` of a meta from before that format raises a
    ``ValueError`` naming the missing or old field. Metas are written
    through fsio, so no stale ``.crc`` sidecar fails the read."""
    import json

    cls, name, meta = _current_meta(spark, kind)
    path = str(tmp_path / kind)
    fsio.write_text(f"{path}/{name}", json.dumps(meta))
    loaded = cls.load(path)
    assert loaded.path == path and loaded.id_col == "doc_id"
    make_old(meta)
    fsio.write_text(f"{path}/{name}", json.dumps(meta))
    with pytest.raises(ValueError, match=field):
        cls.load(path)


def test_ivf_lifecycle_on_uri_path(spark, uri_root):
    """build → load → lazy-delete (tombstone probe!) → search → compact,
    all on a file:// layout. The tombstone-presence check is the
    highest-stakes migration: a local-FS probe on a URI layout returns
    False and silently RESURRECTS deleted rows."""
    import numpy as np

    from vector_db_example_spark.index.ivf import (
        IVFIndex,
        build_ivf_index,
        compact_ivf_index,
        ivf_delete_lazy,
        ivf_search,
    )

    rows = [(i, [float(i), float(i % 5)], i % 2) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    idx = build_ivf_index(df, path=f"{uri_root}/ivf", nlist=4)
    reloaded = IVFIndex.load(idx.path)
    assert np.array_equal(reloaded.centroids, idx.centroids)

    assert ivf_delete_lazy(spark, idx, [0, 1]) == 2
    hits = ivf_search(spark, idx, [0.0, 0.0], k=5, nprobe=4)
    got = {r["vec_id"] for r in hits.collect()}
    assert got.isdisjoint({0, 1}), f"tombstoned rows resurfaced: {got}"

    compacted = compact_ivf_index(spark, idx, f"{uri_root}/ivf_v2")
    hits2 = {r["vec_id"] for r in ivf_search(spark, compacted, [0.0, 0.0], k=5, nprobe=4).collect()}
    assert hits2 == got


def test_inverted_lifecycle_on_uri_path(spark, uri_root):
    from vector_db_example_spark.index.inverted import (
        InvertedIndex,
        bm25_search_inverted,
        build_inverted_index,
        delete_from_inverted_index,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    idx = build_inverted_index(docs, f"{uri_root}/bm25", n_buckets=8)
    assert not InvertedIndex.load(idx.path).positional
    before = bm25_search_inverted(spark, idx, ["spark", "join"], k=5).collect()
    assert before
    victim = int(before[0]["doc_id"])
    assert delete_from_inverted_index(idx, [victim]) == 1
    after = {int(r["doc_id"]) for r in bm25_search_inverted(spark, idx, ["spark", "join"], k=5).collect()}
    assert victim not in after


def test_manifest_on_uri_root(spark, uri_root):
    from vector_db_example_spark.index import manifest

    root = f"{uri_root}/manifests"
    assert manifest.publish(root, "docs", "/layouts/v1") == 1
    assert manifest.publish(root, "docs", "/layouts/v2") == 2
    assert manifest.current(root, "docs") == "/layouts/v2"
    assert manifest.rollback(root, "docs", 1) == 3
    assert manifest.current(root, "docs") == "/layouts/v1"
    assert [e.version for e in manifest.history(root, "docs")] == [1, 2, 3]


def test_hypertable_retention_on_uri_path(spark, uri_root):
    from vector_db_example_spark.index.hypertable import (
        build_hypertable,
        drop_chunks,
        hypertable_report,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    days = sorted(
        r[0].isoformat()
        for r in ev.selectExpr("to_date(ts) d").distinct().collect()
    )
    table = build_hypertable(ev, f"{uri_root}/ht")
    cutoff = days[1]
    dropped = drop_chunks(spark, table, older_than=cutoff)
    assert dropped == 2  # day 0 in raw AND rollup
    report_days = {
        r["event_date"]
        for r in hypertable_report(spark, table, tail_from=days[-1]).collect()
    }
    assert days[0] not in report_days
    assert days[1] in report_days


def test_catalog_on_uri_root(spark, uri_root):
    from vector_db_example_spark.catalog import CollectionCatalog

    cat = CollectionCatalog(spark, f"{uri_root}/collections")
    assert cat.create("kb", dim=4)
    assert cat.exists("kb") and not cat.create("kb")
    rows = spark.createDataFrame(
        [("c1", "alpha beta"), ("c2", "gamma")], "chapter string, content string"
    )
    assert cat.insert("kb", rows) == 2
    assert cat.stats("kb")["row_count"] == 2
    assert cat.drop("kb") and not cat.exists("kb")


def test_csv_fallback_probe_on_uri_path(spark, uri_root):
    from vector_db_example_spark.sources.csv_source import (
        EXAMPLE_ROWS,
        load_knowledge_csv,
    )

    out = load_knowledge_csv(spark, f"{uri_root}/missing.csv", preprocess=False)
    assert out.count() == len(EXAMPLE_ROWS)


def test_fsio_does_not_mutate_cached_filesystem(spark, tmp_path):
    """Advisor r7 (medium): _fs() used to call setWriteChecksum(False)/
    setVerifyChecksum(False) on the JVM-wide CACHED FileSystem instance
    Path.getFileSystem returns — silently disabling corruption detection
    process-wide for every other user of that scheme, including Spark's
    own driver-side IO. Pin the fix two ways: the source never touches
    the toggles, and a write through fsio on the (checksummed) local FS
    still produces its .crc sidecar — while list_names keeps filtering
    it (the ChecksumFileSystem.listStatus contract callers rely on)."""
    import inspect

    src = inspect.getsource(fsio)
    assert "fs.setWriteChecksum" not in src and "fs.setVerifyChecksum" not in src
    root = tmp_path / "crc_probe"
    fsio.write_text(str(root / "meta.json"), "{}")
    raw = {p.name for p in root.iterdir()}
    assert ".meta.json.crc" in raw, f"write checksums got disabled: {raw}"
    assert set(fsio.list_names(str(root))) == {"meta.json"}


def test_fsio_atomic_overwrite_leaves_no_aside_files(spark, tmp_path):
    """Advisor r7 (low): the old overwrite fallback deleted the
    destination before retrying the rename, and a second failure then
    deleted the temp too — losing BOTH versions. The fix renames the old
    file aside and restores it on failure; a SUCCESSFUL overwrite must
    clean up the aside file and never leave a window where neither
    version exists."""
    p = f"file://{tmp_path}/m.json"
    fsio.atomic_write_text(p, "v1")
    for i in range(3):
        fsio.atomic_write_text(p, f"v{i + 2}")
    assert fsio.read_text(p) == "v4"
    leftovers = [
        n
        for n in fsio.list_names(f"file://{tmp_path}")
        if ".tmp-" in n or ".old-" in n
    ]
    assert leftovers == [], leftovers


def test_drop_chunks_forwards_spark_handle(spark, uri_root, monkeypatch):
    """Advisor r7 (low): drop_chunks received a SparkSession but called
    fsio.list_names/delete without forwarding it, relying on
    getActiveSession (RuntimeError when no session is active on the
    calling thread). Pin: every fsio call inside drop_chunks carries the
    in-scope handle."""
    from vector_db_example_spark.index.hypertable import (
        build_hypertable,
        drop_chunks,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    days = sorted(
        r[0].isoformat()
        for r in ev.selectExpr("to_date(ts) d").distinct().collect()
    )
    table = build_hypertable(ev, f"{uri_root}/ht_fwd")

    handles: list[object] = []
    orig_list, orig_delete = fsio.list_names, fsio.delete

    def spy_list(path, spark_arg=None):
        handles.append(spark_arg)
        return orig_list(path, spark_arg)

    def spy_delete(path, recursive=True, spark=None):
        handles.append(spark)
        return orig_delete(path, recursive, spark)

    monkeypatch.setattr(fsio, "list_names", spy_list)
    monkeypatch.setattr(fsio, "delete", spy_delete)
    assert drop_chunks(spark, table, older_than=days[1]) == 2
    assert handles and all(h is spark for h in handles), handles


def test_canonical_token_shared_and_stable(tmp_path, monkeypatch):
    """Advisor r7 (low): the checkpoint→marker-namespace token was
    derived by three separately-maintained sniffs (both ingest sinks and
    rollup); a drift between them would orphan _committed_batches
    namespaces and re-append re-delivered batches. Pin: one shared
    helper, with the documented URI/local behavior, and no local sha256
    re-derivations left in the sinks."""
    import hashlib
    import inspect

    monkeypatch.chdir(tmp_path)
    assert fsio.canonical_token("ckpt") == fsio.canonical_token(
        str(tmp_path / "ckpt")
    )
    uri = "file:///anywhere/ckpt"
    assert (
        fsio.canonical_token(uri)
        == hashlib.sha256(uri.encode()).hexdigest()[:16]
    )
    from vector_db_example_spark.streaming import ingest, rollup

    for mod in (ingest, rollup):
        src = inspect.getsource(mod)
        assert "canonical_token" in src and "sha256" not in src, mod.__name__


def test_dedup_index_lifecycle_on_uri_path(spark, uri_root):
    """The newest layout honors the same portability contract as
    IVF/LSH/inverted: build → filter → append → DELETE (tombstone
    probe through fsio!) → re-filter → compact, all on a file:// URI.
    The delete probe is the high-stakes step — a local-FS probe on a
    scheme-addressed layout would skip the tombstone anti-join and keep
    suppressing batches that near-duplicate a deleted doc."""
    from vector_db_example_spark.index.dedupidx import (
        DedupIndex,
        build_dedup_index,
        dedup_index_append,
        dedup_index_compact,
        dedup_index_delete,
        dedup_index_filter,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    index = build_dedup_index(corpus, f"{uri_root}/dedupidx")
    reloaded = DedupIndex.load(index.path)

    def verdict(idx, doc_id, text):
        batch = spark.createDataFrame([(doc_id, text)], "doc_id long, text string")
        [r] = dedup_index_filter(spark, idx, batch)[0].collect()
        return (r["corpus_dup"], r["within_dup"])

    copy = "the quick brown fox jumps over the lazy dog"
    assert verdict(reloaded, 10, copy) == (True, False)
    dedup_index_append(
        index,
        spark.createDataFrame(
            [(2, "band partitioned parquet layouts on uri schemes")],
            "doc_id long, text string",
        ),
    )
    assert verdict(reloaded, 11, "band partitioned parquet layouts on uri schemes") == (True, False)
    assert dedup_index_delete(spark, reloaded, [1]) == 1
    assert verdict(reloaded, 12, copy) == (False, False)  # takedown honored
    compacted = dedup_index_compact(spark, reloaded, f"{uri_root}/dedupidx_v2")
    assert verdict(compacted, 13, copy) == (False, False)
    assert verdict(compacted, 14, "band partitioned parquet layouts on uri schemes") == (True, False)
