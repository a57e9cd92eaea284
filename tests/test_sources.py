"""Source factory tests (ref tests/integration.rs:104-121, 409-439,
483-633 for the URL mock scenarios, src/config.rs:161-218 for config)."""

from __future__ import annotations

import io
import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from shaha_spark.config import load_config, r2_uri
from shaha_spark.sources import parse_source
from shaha_spark.sources.file import file_source
from shaha_spark.sources.seclists import list_wordlists, seclists_source
from shaha_spark.sources.stdin import stdin_source
from shaha_spark.sources.url import url_name, url_source


def test_file_source_filters_empty_lines(spark, tmp_path):
    # ref integration.rs:104-121: blank lines dropped
    p = tmp_path / "words.txt"
    p.write_text("password\n\nhello\n\n\nworld\n")
    res = file_source(spark, str(p))
    assert sorted(r.word for r in res.words.collect()) == ["hello", "password", "world"]
    assert res.name == "words.txt"
    assert res.content_hash is not None and len(res.content_hash) == 64


def test_file_source_empty_file(spark, tmp_path):
    # ref integration.rs:409-419
    p = tmp_path / "empty.txt"
    p.write_text("")
    assert file_source(spark, str(p)).words.count() == 0


def test_file_content_hash_stable(spark, tmp_path):
    # ref integration.rs:442-459: stable across reads
    p = tmp_path / "w.txt"
    p.write_text("alpha\nbeta\n")
    h1 = file_source(spark, str(p)).content_hash
    h2 = file_source(spark, str(p)).content_hash
    assert h1 == h2


def test_file_source_directory_builds_every_file(spark, tmp_path):
    # spark.read.text reads a directory; only a regular file is
    # fingerprinted, so a directory source gets no content hash and
    # builds like stdin instead of failing in open()
    from shaha_spark.pipeline.build import build, read_hashdb

    d = tmp_path / "lists"
    d.mkdir()
    (d / "a.txt").write_text("red\ngreen\n")
    (d / "b.txt").write_text("green\nblue\n")
    res = file_source(spark, str(d))
    assert res.content_hash is None
    db = str(tmp_path / "db")
    build(spark, res.words, ["md5"], db, source_name=res.name, source_hash=res.content_hash)
    words = {r.preimage for r in read_hashdb(spark, db).collect()}
    assert words == {"red", "green", "blue"}


def test_stdin_source(spark):
    res = stdin_source(spark, io.StringIO("a\n\nb\n"))
    assert sorted(r.word for r in res.words.collect()) == ["a", "b"]
    assert res.content_hash is None  # ref stdin.rs:36-38
    assert res.name == "stdin"


class _Handler(BaseHTTPRequestHandler):
    status = 200
    body = b"one\n\ntwo\n"

    def do_GET(self):
        self.send_response(self.status)
        self.end_headers()
        self.wfile.write(self.body)

    def log_message(self, *args):
        pass


@pytest.fixture()
def http_server():
    server = HTTPServer(("127.0.0.1", 0), _Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()


def test_url_source(spark, http_server):
    _Handler.status, _Handler.body = 200, b"one\n\ntwo\n"
    res = url_source(spark, http_server + "/lists/rockyou.txt")
    assert sorted(r.word for r in res.words.collect()) == ["one", "two"]
    assert res.name == "rockyou.txt"
    assert res.content_hash is not None


def test_url_source_non_2xx_body_accepted(spark, http_server):
    # ref tests/integration.rs:521-539
    _Handler.status, _Handler.body = 500, b"err-word\n"
    res = url_source(spark, http_server + "/x.txt")
    assert [r.word for r in res.words.collect()] == ["err-word"]


def test_url_source_empty_body(spark, http_server):
    _Handler.status, _Handler.body = 200, b""
    assert url_source(spark, http_server + "/x.txt").words.count() == 0


def test_url_name_fallback():
    assert url_name("https://example.com") == "example.com"
    assert url_name("https://example.com/a/b.txt") == "b.txt"


def test_seclists_local_clone(spark, tmp_path):
    # simulate a clone dir (no network): S4 read + S11 catalog
    root = tmp_path / "seclists"
    (root / "Passwords").mkdir(parents=True)
    (root / ".git").mkdir()
    (root / "Passwords" / "common.txt").write_text("123456\npassword\n")
    (root / "readme.md").write_text("not a wordlist")
    res = seclists_source(spark, "Passwords/common.txt", clone_dir=str(root))
    assert res.words.count() == 2
    assert res.name == "seclists:Passwords/common.txt"
    assert list_wordlists(clone_dir=str(root)) == ["Passwords/common.txt"]
    with pytest.raises(FileNotFoundError):
        seclists_source(spark, "nope.txt", clone_dir=str(root))


def test_parse_source_dispatch(spark, tmp_path):
    p = tmp_path / "w.txt"
    p.write_text("x\n")
    assert parse_source(spark, str(p)).name == "w.txt"


def test_config_precedence(tmp_path):
    # ref src/config.rs:166-218: env > local > home
    home = tmp_path / "home.toml"
    home.write_text(
        '[storage.r2]\nbucket = "home-bucket"\nendpoint = "home-ep"\n'
        '[defaults]\nalgorithms = ["md5"]\n'
    )
    cwd = tmp_path / "proj"
    cwd.mkdir()
    (cwd / ".shaha.toml").write_text('[storage.r2]\nbucket = "local-bucket"\n')
    cfg = load_config(cwd=str(cwd), home_config=str(home), env={})
    assert cfg.r2.bucket == "local-bucket"  # local overrides home
    assert cfg.r2.endpoint == "home-ep"  # home fills gaps
    assert cfg.algorithms == ["md5"]

    cfg = load_config(
        cwd=str(cwd), home_config=str(home),
        env={"SHAHA_R2_BUCKET": "env-bucket", "SHAHA_ALGORITHMS": "sha1,sha256"},
    )
    assert cfg.r2.bucket == "env-bucket"  # env overrides all
    assert cfg.algorithms == ["sha1", "sha256"]
    assert r2_uri(cfg, "db.parquet") == "s3a://env-bucket/db.parquet"


def test_url_source_streams_to_cache_not_driver(spark, http_server, tmp_path):
    # the download lands in the cache file and parses via the
    # distributed spark.read.text path (no createDataFrame row list)
    _Handler.status, _Handler.body = 200, b"alpha\n\nbeta\n"
    res = url_source(spark, http_server + "/big.txt", cache_dir=str(tmp_path))
    assert sorted(r.word for r in res.words.collect()) == ["alpha", "beta"]
    cached = list(tmp_path.iterdir())
    assert len(cached) == 1 and cached[0].read_bytes() == b"alpha\n\nbeta\n"
    assert "FileScan text" in res.words._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def fake_aspell(tmp_path, monkeypatch):
    """A shim `aspell` on PATH so the real subprocess code paths run in
    containers without the binary (mirrors ref aspell.rs:82-106, which
    tests through the spawned process)."""
    import os as _os
    import textwrap

    shim = tmp_path / "aspell"
    shim.write_text(textwrap.dedent("""\
        #!/bin/sh
        if [ "$1" = "dicts" ]; then
          printf 'en\\nen_US\\nde\\n'
          exit 0
        fi
        if [ "$1" = "-d" ] && [ "$3" = "dump" ] && [ "$4" = "master" ]; then
          printf 'apple\\nbanana\\n\\ncherry\\n'
          exit 0
        fi
        exit 1
    """))
    shim.chmod(0o755)
    monkeypatch.setenv("PATH", f"{tmp_path}{_os.pathsep}{_os.environ['PATH']}")
    return shim


def test_aspell_source_via_shim(spark, fake_aspell):
    from shaha_spark.sources.aspell import aspell_available, aspell_source, list_dicts

    assert aspell_available()
    assert list_dicts() == ["de", "en", "en_US"]
    res = aspell_source(spark, "en")
    assert sorted(r.word for r in res.words.collect()) == ["apple", "banana", "cherry"]
    assert res.name == "aspell:en"
    assert res.content_hash is not None and len(res.content_hash) == 64


def test_aspell_dispatch_via_shim(spark, fake_aspell):
    res = parse_source(spark, "aspell:en")
    assert res.name == "aspell:en"
    assert res.words.count() == 3


def test_aspell_missing_binary_errors(spark, monkeypatch):
    monkeypatch.setenv("PATH", "/nonexistent")
    from shaha_spark.sources.aspell import aspell_source, list_dicts

    with pytest.raises(RuntimeError, match="aspell binary not found"):
        list_dicts()
    with pytest.raises(RuntimeError, match="aspell binary not found"):
        aspell_source(spark, "en")
