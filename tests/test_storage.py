"""The storage substrate (``kt_sql_hbase_ex_spark/storage.py``): one lock,
publish, claim and build-once for every persisted store, and a
structural guard that keeps it the only one."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "kt_sql_hbase_ex_spark"

#: storage plumbing that once leaked across modules through private names
_PRIVATE_PLUMBING = {
    "_writer_lock",
    "_build_once",
    "_index_root",
    "_read_layout",
    "_write_layout",
    "_layout_path",
}


def test_one_lock_publish_and_claim_implementation():
    """``os.replace``/``os.rename`` (publish) and ``os.O_EXCL`` (lock,
    claim) appear only in storage.py, and no module reaches another
    module's storage plumbing through a private import. Hardlink
    carries (``os.link``) are not publishes and are not checked."""
    rogue, private = [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
                and node.attr in ("replace", "rename", "O_EXCL")
                and path.name != "storage.py"
            ):
                rogue.append(f"{rel}:{node.lineno} os.{node.attr}")
            if isinstance(node, ast.ImportFrom):
                if node.module == "os" and path.name != "storage.py":
                    rogue += [
                        f"{rel}:{node.lineno} from os import {a.name}"
                        for a in node.names
                        if a.name in ("replace", "rename", "O_EXCL")
                    ]
                private += [
                    f"{rel}:{node.lineno} {node.module}.{a.name}"
                    for a in node.names
                    if a.name in _PRIVATE_PLUMBING
                ]
    assert rogue == [], rogue
    assert private == [], private


def test_one_overlay_reader():
    """Every overlay read in the KV store goes through
    ``_read_overlay``/``_overlay_entry``, the one reader the read cache
    sits behind: the overlay parquet is read in exactly one place."""
    src = (PKG / "sources" / "kvstore.py").read_text()
    assert src.count("read_table(opath") == 1


def test_one_overlay_writer():
    """Every overlay commit — the five client-API writers, the connector
    and versioned Puts, WAL replay — merges and publishes through
    ``_commit_overlay``: ``_publish_overlay`` has exactly one call
    site."""
    tree = ast.parse((PKG / "sources" / "kvstore.py").read_text())
    calls = [
        node for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "_publish_overlay"
    ]
    assert len(calls) == 1


def _calls(tree, name):
    """Call nodes of ``name`` (``f`` or ``mod.f``) in ``tree``."""
    return [
        node for node in ast.walk(tree)
        if isinstance(node, ast.Call) and ast.unparse(node.func) == name
    ]


def test_pinned_reads_go_through_read_pinned():
    """A pin is exact only because one primitive holds the descriptor
    it is validated against: no module outside storage.py touches the
    pin table, the overlay footer is parsed only by the function
    handed to ``storage.read_pinned``, and the generation pointer is
    read only through ``storage.read_pointer``."""
    for path in sorted(PKG.rglob("*.py")):
        if path.name != "storage.py":
            src = path.read_text()
            assert "_PINS" not in src and "storage._pin" not in src, path
    tree = ast.parse((PKG / "sources" / "kvstore.py").read_text())
    fns = {
        node.name: node for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef)
    }
    footer_reads = [
        fn for fn in fns.values()
        for call in _calls(fn, "pq.read_schema")
        if "opath" in ast.unparse(call) or "overlay" in ast.unparse(call)
    ]
    assert footer_reads == []
    (parse,) = _calls(fns["_parse_footer"], "pq.read_schema")
    assert ast.unparse(parse) == "pq.read_schema(f)"
    assert ast.unparse(_calls(fns["_overlay_footer"], "storage.read_pinned")[0]) \
        == "storage.read_pinned(opath, _parse_footer)"
    assert _calls(fns["_resolve_generation"], "storage.read_pointer")
    pointer_uses = [
        fn.name for fn in fns.values()
        if "GEN_POINTER" in ast.unparse(fn)
    ]
    assert sorted(pointer_uses) == [
        "_publish_bulk_generation", "_publish_generation",
        "_resolve_generation", "truncate_overlay",
    ]


def test_pinned_files_are_published_never_written_in_place():
    """The overlay and every JSON pointer are replaced by rename
    (``storage.publish`` / ``write_pointer``), never rewritten in
    place: an in-place write keeps the inode a pin is validated by.
    In the package, a parquet write or ``open`` for writing names
    neither the overlay nor a pointer file except through a staging
    path, and the generation pointer is published only by
    ``storage.write_pointer``."""
    suspects = ("opath", "overlay_path", "POINTER", "layout", "LAYOUT")
    rogue = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or not node.args:
                continue
            func = ast.unparse(node.func)
            if func == "open":
                mode = node.args[1] if len(node.args) > 1 else next(
                    (k.value for k in node.keywords if k.arg == "mode"), None
                )
                if not (isinstance(mode, ast.Constant)
                        and set(str(mode.value)) & set("wax+")):
                    continue
                target = ast.unparse(node.args[0])
            elif func.endswith("write_table"):
                target = ast.unparse(node.args[1] if len(node.args) > 1
                                     else node.args[0])
            else:
                continue
            if any(s in target for s in suspects) and "staging" not in target:
                rogue.append(f"{rel}:{node.lineno} {func}({target})")
    assert rogue == [], rogue
    tree = ast.parse((PKG / "sources" / "kvstore.py").read_text())
    for fn in ("_publish_generation", "_publish_bulk_generation"):
        (node,) = [
            n for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and n.name == fn
        ]
        assert any(
            "GEN_POINTER" in ast.unparse(c)
            for c in _calls(node, "storage.write_pointer")
        ), fn
    publishes = [
        ast.unparse(c) for c in _calls(tree, "storage.publish")
        if "opath" in ast.unparse(c)
    ]
    assert publishes == ["storage.publish(opath, pin=footer)"]


def test_one_read_cache():
    """``_READ_CACHE``, a bounded ``storage.LRUCache``, is the KV
    store's only module-level cache: no ``*_CACHE`` dict or
    ``OrderedDict`` sits beside it outside the byte budget."""
    tree = ast.parse((PKG / "sources" / "kvstore.py").read_text())
    caches = {}
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        for t in targets:
            if isinstance(t, ast.Name) and t.id.endswith("_CACHE"):
                caches[t.id] = ast.unparse(node.value)
    assert caches == {"_READ_CACHE": "storage.LRUCache(_READ_CACHE_BYTES)"}


def test_text_index_lock_break_refuses_live_holder(tmp_path):
    """Breaking the text index's ``writer.lock`` is refused while the
    recorded holder pid is alive (the overlay lock's guard rail);
    ``force=True`` is the operator override."""
    from kt_sql_hbase_ex_spark.functions.text_index import (
        IndexWriterConflict,
        break_writer_lock,
    )

    root = str(tmp_path)
    lock = os.path.join(root, "writer.lock")
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    with pytest.raises(IndexWriterConflict, match="still alive"):
        break_writer_lock(root)
    assert os.path.exists(lock)
    break_writer_lock(root, force=True)
    assert not os.path.exists(lock)


def test_text_index_lock_failed_pid_write_leaks_nothing(tmp_path, monkeypatch):
    """A failing pid write while taking the text-index lock (ENOSPC,
    EIO) leaves neither the lock file nor an open descriptor behind."""
    from kt_sql_hbase_ex_spark.functions.text_index import _writer_lock

    def boom(fd, data):
        raise OSError("simulated write failure")

    root = str(tmp_path)
    fds_before = sorted(os.listdir("/proc/self/fd"))
    monkeypatch.setattr(os, "write", boom)
    with pytest.raises(OSError, match="simulated"):
        with _writer_lock(root):
            pass
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(root, "writer.lock"))
    assert sorted(os.listdir("/proc/self/fd")) == fds_before


def test_staging_name_rule(tmp_path):
    """``_tmp.<name>.<uuid8>``: hidden from directory listings, unique
    per attempt, and never ending with the final name's suffix, so the
    WAL's ``*.parquet`` sequence listing skips a torn one."""
    from kt_sql_hbase_ex_spark import storage
    from kt_sql_hbase_ex_spark.sources.kvstore import _log_seqs

    final = str(tmp_path / "00000007.parquet")
    a, b = storage.staging_path(final), storage.staging_path(final)
    assert a != b
    for s in (a, b):
        name = os.path.basename(s)
        assert name.startswith("_tmp.00000007.parquet.")
        assert not name.endswith(".parquet")
        assert len(name.rsplit(".", 1)[1]) == 8
    open(tmp_path / "00000003.parquet", "w").close()
    open(a, "w").close()
    assert _log_seqs(str(tmp_path)) == [3]


def test_publish_is_atomic_and_cleans_up(tmp_path):
    from kt_sql_hbase_ex_spark import storage

    final = str(tmp_path / "ptr.json")
    storage.write_pointer(final, {"gen": 1})
    with pytest.raises(RuntimeError):
        with storage.publish(final) as staging:
            with open(staging, "w") as f:
                f.write("{torn")
            raise RuntimeError("crash before the rename")
    assert storage.read_pointer(final) == {"gen": 1}
    assert os.listdir(tmp_path) == ["ptr.json"]


def test_publish_dir_loser_finds_out(tmp_path):
    from kt_sql_hbase_ex_spark import storage

    final = str(tmp_path / "snap")
    for content in ("first", "second"):
        try:
            with storage.publish(final) as staging:
                os.makedirs(staging)
                with open(os.path.join(staging, "f"), "w") as f:
                    f.write(content)
        except OSError:
            assert content == "second"
    with open(os.path.join(final, "f")) as f:
        assert f.read() == "first"
    assert os.listdir(tmp_path) == ["snap"]


def test_claim_is_exclusive(tmp_path):
    from kt_sql_hbase_ex_spark import storage

    mark = str(tmp_path / "00000001")
    assert storage.claim(mark)
    assert not storage.claim(mark)
    entry = str(tmp_path / "00000002.parquet")
    writer = lambda text: lambda p: pathlib.Path(p).write_text(text)
    assert storage.claim(entry, writer("payload"))
    assert not storage.claim(entry, writer("other"))
    with open(entry) as f:
        assert f.read() == "payload"
    assert sorted(os.listdir(tmp_path)) == ["00000001", "00000002.parquet"]


def test_build_once_loser_serves_winner(tmp_path):
    """A builder whose publish loses the race discards its staging and
    returns the winner's identical build."""
    from kt_sql_hbase_ex_spark import storage

    base = str(tmp_path / "store")

    def build(staging):
        os.makedirs(staging)
        # a concurrent builder publishes while this one is building
        storage.build_once(base, lambda s: os.makedirs(s))

    assert storage.build_once(base, build) == base
    assert os.path.exists(os.path.join(base, "_SUCCESS"))
    assert os.listdir(tmp_path) == ["store"]
