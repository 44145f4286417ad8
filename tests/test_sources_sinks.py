"""Sources (CSV/XML/REST/SFTP protocol/Excel range), sinks, and the
streaming job consumer — driven end-to-end on local fixtures."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark import sinks
from etl_edi_data_scrapper_spark.sources import files as fmod
from etl_edi_data_scrapper_spark.sources import transports as tmod
from etl_edi_data_scrapper_spark.sources.registry import local_registry, read_local
from etl_edi_data_scrapper_spark.sources.rest import JwtManager, paginate, read_rest_api


# --- CSV ---------------------------------------------------------------------


def test_csv_drops_malformed_rows(spark, tmp_path):
    # reference: skip rows whose column count != header (CsvInputHandler.php:80-83)
    p = tmp_path / "feed.csv"
    p.write_text("upc,qty,price\n1,2,3\nbadrow,5\n4,5,6\n\n7,8,9,10\n")
    df = fmod.read_csv(spark, str(p))
    rows = df.collect()
    assert [tuple(r) for r in rows] == [("1", "2", "3"), ("4", "5", "6")]
    assert df.columns == ["upc", "qty", "price"]


CSV_HEADER_CASES = {
    "case_insensitive_duplicates": b"id,Name,NAME,name,x\n1,a,b,c,d\n2,e,f,g,h\n",
    "blank_names": b"a,,b, ,\n1,2,3,4,5\n",
    "quoted_comma": b'"last, first",qty\n"Doe, J",3\n',
    "escaped_quote": b'"say \\"hi\\"",b\n1,2\n',
    "univocity_dialect": b'x\\y,"q""r","a"b\n1,2,3\n',
    "cyrillic": "Артикул,Цена,артикул\n1,2,3\n".encode(),
    "utf8_bom": b"\xef\xbb\xbfupc,qty\n1,2\n",
    "utf8_bom_then_blank_line": b"\xef\xbb\xbf\nupc,qty\n1,2\n",
    "crlf": b"upc,qty\r\n1,2\r\n3,4\r\n",
    "cr_only": b"upc,qty\r1,2\r3,4\r",
    "leading_blank_lines": b"\n  \n\t\r\n\r\nupc,qty\n1,2\nbad\n",
    "long_blank_prefix": b"   \n" * 20000 + b"upc,qty\n1,2\n",
    "invalid_utf8": b"up\xffc,q\xe2\x82ty,\xc0\xafx,\xed\xa0\x80y,\xf4\x90\x80\x80\n1,2,3,4,5\n",
    "header_only": b"upc,qty\n",
    "empty": b"",
}


@pytest.mark.parametrize("case", sorted(CSV_HEADER_CASES))
def test_csv_driver_header_matches_spark_inference(spark, tmp_path, case):
    p = tmp_path / "feed.csv"
    p.write_bytes(CSV_HEADER_CASES[case])
    df = fmod.read_csv(spark, str(p))
    assert df.schema == spark.read.option("header", True).csv(str(p)).schema
    inferred = (
        spark.read.option("header", True).option("mode", "DROPMALFORMED").csv(str(p))
    )
    assert df.collect() == inferred.collect()


def test_csv_driver_header_follows_case_sensitive_session(spark, tmp_path):
    p = tmp_path / "feed.csv"
    p.write_bytes(CSV_HEADER_CASES["case_insensitive_duplicates"])
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        names = fmod.read_csv(spark, str(p)).columns
        assert names == spark.read.option("header", True).csv(str(p)).columns
    finally:
        spark.conf.unset("spark.sql.caseSensitive")
    assert names == ["id", "Name", "NAME", "name", "x"]


def test_csv_local_file_read_starts_no_spark_job(spark, tmp_path):
    p = tmp_path / "feed.csv"
    p.write_text("upc,qty,Qty\n1,2,3\n")
    sc = spark.sparkContext
    sc.setJobGroup("csv-driver-header", "read_csv only")
    try:
        df = fmod.read_csv(spark, str(p))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert df.columns == ["upc", "qty1", "Qty2"]
    assert list(sc.statusTracker().getJobIdsForGroup("csv-driver-header")) == []


def test_csv_glob_and_compressed_file_keep_spark_inference(spark, tmp_path):
    import gzip

    (tmp_path / "a.csv").write_text("upc,qty\n1,2\n")
    df = fmod.read_csv(spark, str(tmp_path / "*.csv"))
    assert df.columns == ["upc", "qty"] and df.count() == 1
    gz = tmp_path / "feed.csv.gz"
    gz.write_bytes(gzip.compress(b"upc,qty\n1,2\n"))
    df = fmod.read_csv(spark, str(gz))
    assert df.columns == ["upc", "qty"] and [tuple(r) for r in df.collect()] == [("1", "2")]


def test_session_takes_serialized_shuffle_writer(spark):
    # bypass merge would open one file per reduce partition in every map task
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.shuffle.sort.bypassMergeThreshold") == "0"


def test_driver_heap_default_fits_the_host():
    from etl_edi_data_scrapper_spark.session import default_driver_memory

    # a 16 GB host gets half its RAM, not a 24g heap it cannot back
    meminfo = "MemTotal:       16479424 kB\nMemFree:         9000000 kB\n"
    assert default_driver_memory(meminfo) == "8046m"
    # never above the 24g the engine was tuned with
    assert default_driver_memory("MemTotal:  268435456 kB\n") == "24576m"
    # no MemTotal line (no /proc/meminfo): the old default
    assert default_driver_memory("") == "24g"
    assert default_driver_memory("MemFree: 100 kB\n") == "24g"


# --- Morris XML ---------------------------------------------------------------


MORRIS_XML = """<root>
  <available>
    <gtin>0042323456789</gtin><qty>15</qty>
    <detail><price>12.50</price></detail>
  </available>
  <available>
    <gtin>0099999999999</gtin><qty>3</qty>
    <detail><price>7.25</price></detail>
  </available>
</root>"""


def test_morris_xml_typed_parse(spark, tmp_path):
    p = tmp_path / "morris.xml"
    p.write_text(MORRIS_XML)
    df = fmod.read_morris_xml(spark, str(p))
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string", "bigint", "double",
    ]
    rows = {r.gtin: r for r in df.collect()}
    assert rows["0042323456789"].qty == 15 and rows["0042323456789"].price == 12.5


def test_morris_xml_multi_file_union(spark, tmp_path):
    (tmp_path / "a.xml").write_text(MORRIS_XML)
    (tmp_path / "b.xml").write_text(MORRIS_XML.replace("15", "99"))
    df = fmod.read_morris_xml(spark, str(tmp_path / "*.xml"))
    assert df.count() == 4


def test_morris_xml_reader_errors_propagate(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        fmod.read_morris_xml(spark, str(tmp_path / "missing.xml"))


# --- Excel range dialect -------------------------------------------------------


@pytest.mark.parametrize(
    "rng,max_row,expect",
    [
        ("Sheet1!A1:D", 50, ("Sheet1", "A1:D50")),
        ("A:I", 10, (None, "A1:I10")),
        ("A1:I", 10, (None, "A1:I10")),
        ("B2:C9", 99, (None, "B2:C9")),
        ("Data!A:B", 7, ("Data", "A1:B7")),
    ],
)
def test_excel_range_normalization(rng, max_row, expect):
    # reference: ExcelInputHandler.php:126-139, :203-240
    assert fmod.normalize_excel_range(rng, max_row) == expect


def test_excel_reader_missing_file_raises(spark):
    with pytest.raises(OSError):
        fmod.read_excel(spark, "/nonexistent.xlsx")


# --- SFTP selection protocol ---------------------------------------------------


def test_sftp_newest_only_and_history_archive(tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    for i, name in enumerate(["feed_old.csv", "feed_mid.csv", "feed_new.csv"]):
        f = remote / name
        f.write_text(f"upc\n{i}\n")
        os.utime(f, (time.time() - 100 + i * 10, time.time() - 100 + i * 10))
    (remote / "unrelated.csv").write_text("upc\nx\n")

    staged = tmod.sftp_select_and_stage(
        tmod.LocalFs(), str(remote / "feed.csv"), staging_dir=str(tmp_path / "stage")
    )
    assert len(staged) == 1
    assert os.path.basename(staged[0]) == "feed_new.csv"
    # older matches moved to history/, newest + unrelated remain
    assert sorted(os.listdir(remote)) == ["feed_new.csv", "history", "unrelated.csv"]
    assert sorted(os.listdir(remote / "history")) == ["feed_mid.csv", "feed_old.csv"]


def test_sftp_no_match_raises(tmp_path):
    (tmp_path / "other.csv").write_text("x\n")
    with pytest.raises(FileNotFoundError):
        tmod.sftp_select_and_stage(tmod.LocalFs(), str(tmp_path / "feed.csv"))


# --- SOCKS5 proxy handshake (SftpTransport.php:60-128 parity) ------------------


class ScriptedSocket:
    """Socket fake: replays scripted recv() payloads, records sent bytes."""

    def __init__(self, replies):
        self.replies = [bytes(r) for r in replies]
        self.sent = b""

    def sendall(self, data):
        self.sent += bytes(data)

    def recv(self, n):
        if not self.replies:
            return b""
        cur = self.replies[0]
        chunk, rest = cur[:n], cur[n:]
        if rest:
            self.replies[0] = rest
        else:
            self.replies.pop(0)
        return chunk


def test_socks5_auth_handshake_byte_framing():
    sock = ScriptedSocket([
        b"\x05\x02",                       # greeting: user/pass accepted
        b"\x01\x00",                       # auth ok
        b"\x05\x00\x00\x01" + bytes(6),    # CONNECT granted
    ])
    out = tmod.socks5_connect(
        sock, "sftp.example.com", 2222, username="u", password="pw",
        resolve=lambda h: "10.1.2.3",
    )
    assert out is sock
    assert sock.sent == (
        b"\x05\x01\x02"                          # VER NMETHODS USERPASS
        + b"\x01\x01u\x02pw"                     # RFC1929: VER ULEN U PLEN P
        + b"\x05\x01\x00\x01"                    # VER CMD RSV ATYP=IPv4
        + bytes([10, 1, 2, 3])                   # resolved address
        + bytes([2222 >> 8, 2222 & 0xFF])        # port, network order
    )


def test_socks5_rejections_raise():
    # greeting refused
    with pytest.raises(tmod.Socks5Error, match="auth"):
        tmod.socks5_connect(
            ScriptedSocket([b"\x05\xff"]), "h", 22, username="u", password="p",
            resolve=lambda h: "1.2.3.4",
        )
    # bad credentials
    with pytest.raises(tmod.Socks5Error, match="credentials"):
        tmod.socks5_connect(
            ScriptedSocket([b"\x05\x02", b"\x01\x01"]), "h", 22,
            username="u", password="p", resolve=lambda h: "1.2.3.4",
        )
    # CONNECT refused (REP=0x05 connection refused)
    with pytest.raises(tmod.Socks5Error, match="CONNECT"):
        tmod.socks5_connect(
            ScriptedSocket([
                b"\x05\x02", b"\x01\x00",
                b"\x05\x05\x00\x01" + bytes(6),
            ]),
            "h", 22, username="u", password="p", resolve=lambda h: "1.2.3.4",
        )
    # proxy hangs up mid-handshake
    with pytest.raises(tmod.Socks5Error, match="closed"):
        tmod.socks5_connect(
            ScriptedSocket([b"\x05"]), "h", 22, username="u", password="p",
            resolve=lambda h: "1.2.3.4",
        )


def test_socks5_noauth_path():
    sock = ScriptedSocket([b"\x05\x00", b"\x05\x00\x00\x01" + bytes(6)])
    tmod.socks5_connect(sock, "h", 22, resolve=lambda h: "1.2.3.4")
    assert sock.sent.startswith(b"\x05\x01\x00")  # offers NO-AUTH only


# --- REST paginator + JWT -------------------------------------------------------


def fake_api(n_pages=3, per_page=2):
    def fetch(url: str) -> str:
        page = int(url.split("page=")[1].split("&")[0])
        if page > n_pages:
            return json.dumps({"data": []})
        rows = [
            {"barcode": f"b{page}-{i}", "stock_quantity": page * 10 + i}
            for i in range(per_page)
        ]
        return json.dumps(
            {"data": rows, "meta": {"last_page": n_pages},
             "links": {"next": f"x?page={page+1}" if page < n_pages else None}}
        )

    return fetch


def links_only_api(n_pages=3, per_page=2):
    """Pages with no ``meta``: only ``links.next`` says another follows."""
    with_meta = fake_api(n_pages, per_page)

    def fetch(url: str) -> str:
        doc = json.loads(with_meta(url))
        doc.pop("meta", None)
        return json.dumps(doc)

    return fetch


def test_paginate_stops_at_last_page():
    for api in (fake_api(3, 2), links_only_api(3, 2)):
        calls = []

        def fetch(url, api=api):
            calls.append(url)
            return api(url)

        pages = paginate("https://api.example.com/v1/products", fetch)
        assert len(pages) == 3 and sum(len(p) for p in pages) == 6
        assert len(calls) == 3  # page 4 is never requested
        assert calls[0].endswith("/products?page=1&per_page=100")


def test_paginate_skips_non_dict_rows():
    def fetch(url):
        return json.dumps({"data": [{"a": 1}, "junk", 42], "meta": {"last_page": 1}})

    pages = paginate("u", fetch)
    assert pages == [[{"a": 1}]]


@pytest.mark.parametrize("failure", ["http_500", "not_json"])
def test_paginate_bad_page_stops_with_log(caplog, failure):
    import urllib.error

    ok = fake_api(3, 2)

    def fetch(url):
        if "page=2" not in url:
            return ok(url)
        if failure == "http_500":
            raise urllib.error.HTTPError(url, 500, "Server Error", {}, None)
        return "<html>maintenance</html>"

    with caplog.at_level("WARNING", logger="etl_edi_data_scrapper_spark.sources.rest"):
        pages = paginate("u", fetch)
    assert len(pages) == 1
    expect = "HTTP 500" if failure == "http_500" else "is not JSON"
    assert any(expect in r.getMessage() and "page=2" in r.getMessage()
               for r in caplog.records)


def test_paginate_transport_bug_propagates():
    def fetch(url):
        raise ValueError("bad header value")

    with pytest.raises(ValueError, match="bad header value"):
        paginate("u", fetch)


def test_read_rest_api_dataframe(spark):
    df = read_rest_api(
        spark, "https://api.example.com/v1/products", fetch=fake_api(2, 3)
    )
    assert df.count() == 6
    assert set(df.columns) == {"barcode", "stock_quantity"}


def test_rest_job_stages_nothing_in_temp_dir(spark, tmp_path, monkeypatch):
    import tempfile

    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.sources.registry import build_registry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    job = {
        "supplier_id": 8,
        "type_id": 8,
        "source": "https://api.example.com/v1/products",
        "column_map_rules": {"upc": "barcode", "qty": ["stock_quantity", "max"]},
        "version": 1,
    }
    eng = Engine(spark, readers=build_registry(rest_fetch=fake_api(2, 3)))
    assert len(eng.run_job(job, sink="collect")) == 6
    assert not list(tmp_path.glob("etl_rest_*"))


def test_jwt_cache_roundtrip(tmp_path, monkeypatch):
    calls = []

    def fake_post(url, creds):
        calls.append(url)
        return json.dumps({"token": "tok123", "expires_in": 3600})

    mgr = JwtManager(
        "https://auth.example.com/token", {"user": "u"},
        cache_dir=str(tmp_path), supplier_id=7, fetch_post=fake_post,
    )
    assert mgr.token() == "tok123"
    assert mgr.token() == "tok123"   # cached
    assert len(calls) == 1

    # fetch sends the cached token as a Bearer header on every page
    sent = []

    def fake_get(url, headers=None):
        sent.append((url, headers))
        return "{}"

    monkeypatch.setattr("etl_edi_data_scrapper_spark.sources.rest._get", fake_get)
    assert mgr.fetch("https://api.example.com/p?page=1") == "{}"
    mgr.fetch("https://api.example.com/p?page=2")
    assert [h for _, h in sent] == [{"Authorization": "Bearer tok123"}] * 2
    assert len(calls) == 1  # no second token POST


def test_jwt_raw_string_token_gets_synthetic_expiry(tmp_path):
    mgr = JwtManager(
        "u", {}, cache_dir=str(tmp_path), supplier_id=8,
        fetch_post=lambda u, c: "raw-token-string",
    )
    assert mgr.token() == "raw-token-string"
    with open(mgr._cache_path()) as f:
        cached = json.load(f)
    assert cached["expires_at"] > time.time() + 23 * 3600


def test_jwt_cache_is_owner_only_and_refuses_shared_dirs(tmp_path):
    import stat

    d = tmp_path / "cache"
    mgr = JwtManager("u", {}, cache_dir=str(d), supplier_id=9,
                     fetch_post=lambda u, c: "tok")
    assert mgr.token() == "tok"
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o700
    assert stat.S_IMODE(os.stat(d / "token_9.json").st_mode) == 0o600

    # a directory others can write is refused before any token lands
    shared = tmp_path / "shared"
    shared.mkdir()
    shared.chmod(0o777)
    with pytest.raises(PermissionError, match="writable by no one else"):
        JwtManager("u", {}, cache_dir=str(shared), supplier_id=9,
                   fetch_post=lambda u, c: "tok").token()
    assert not list(shared.iterdir())

    # a link at the token path is not followed: its target is untouched
    victim = tmp_path / "victim.json"
    victim.write_text(json.dumps({"token": "old", "expires_at": 0}))
    (d / "token_10.json").symlink_to(victim)
    with pytest.raises(OSError):
        JwtManager("u", {}, cache_dir=str(d), supplier_id=10,
                   fetch_post=lambda u, c: "tok").token()
    assert json.loads(victim.read_text())["token"] == "old"


# --- sinks ----------------------------------------------------------------------


def test_rows_as_json_shape(spark):
    df = spark.createDataFrame([("42", 3, 1.5)], "upc string, qty long, price double")
    out = sinks.rows_as_json(df, key_col="upc").collect()
    assert out[0].key == "42"
    assert json.loads(out[0].value) == {"upc": "42", "qty": 3, "price": 1.5}


def test_kafka_error_classifier_missing_jar_only():
    # missing-package signatures → NotImplementedError path
    assert sinks._is_missing_kafka_jar(Exception("Failed to find data source: kafka."))
    assert sinks._is_missing_kafka_jar(Exception("[DATA_SOURCE_NOT_FOUND] kafka"))
    assert sinks._is_missing_kafka_jar(
        Exception("java.lang.ClassNotFoundException: kafka.DefaultSource")
    )
    # real delivery failures mention 'kafka' too — must NOT be misclassified
    assert not sinks._is_missing_kafka_jar(
        Exception("org.apache.kafka.common.errors.TimeoutException: Topic edi_output "
                  "not present in metadata after 60000 ms.")
    )
    assert not sinks._is_missing_kafka_jar(
        Exception("Connection to node -1 (localhost/127.0.0.1:9092) could not be "
                  "established. Broker may not be available. (kafka client)")
    )
    assert not sinks._is_missing_kafka_jar(
        Exception("SaslAuthenticationException: Authentication failed for kafka user")
    )


def test_write_jsonl_and_parquet(spark, tmp_path):
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    sinks.write_jsonl(df, str(tmp_path / "j"))
    sinks.write_parquet(df, str(tmp_path / "p"))
    assert spark.read.json(str(tmp_path / "j")).count() == 1
    assert spark.read.parquet(str(tmp_path / "p")).count() == 1
    assert sinks.collect_rows(df) == [{"k": "a", "v": 1}]


# --- streaming job consumer -------------------------------------------------------


def test_job_stream_end_to_end(spark, tmp_path, sf_dir):
    from etl_edi_data_scrapper_spark.streaming.consumer import run_job_stream

    msg_dir = tmp_path / "messages"
    msg_dir.mkdir()
    out_dir = tmp_path / "out"
    job = {
        "supplier_id": 55,
        "type_id": 3,
        "source": f"{sf_dir}/lineitem.parquet",
        "column_map_rules": {
            "upc": "l_partkey",
            "qty": ["l_quantity", "min"],
            "price": ["l_extendedprice", "max"],
        },
        "version": 2,
    }
    (msg_dir / "job1.jsonl").write_text(json.dumps(job) + "\n")

    results = {}

    def sink(df, cfg):
        sinks.write_parquet(df, str(out_dir / f"supplier_{cfg.supplier_id}"))
        results[cfg.supplier_id] = df.count()

    metrics = []
    q = run_job_stream(
        spark, {3: read_local}, sink,
        source_path=str(msg_dir),
        checkpoint_dir=str(tmp_path / "ckpt"),
        on_metrics=metrics.append,
    )
    q.processAllAvailable()
    q.stop()

    assert results == {55: 200}  # 200 distinct partkeys at sf0.001
    out = spark.read.parquet(str(out_dir / "supplier_55"))
    assert set(out.columns) == {"upc", "qty", "price", "supplier_id", "version"}
    assert out.filter(F.col("supplier_id") != 55).count() == 0
    assert metrics and metrics[0]["supplier_id"] == 55
    assert metrics[0]["rows_out"] == 200  # observe() rode the sink action


def test_job_stream_bad_message_reported_not_fatal(spark, tmp_path, sf_dir):
    from etl_edi_data_scrapper_spark.streaming.consumer import process_messages

    good = {
        "supplier_id": 1, "type_id": 3,
        "source": f"{sf_dir}/region.parquet",
        "column_map_rules": {"name": "r_name", "upc": "r_regionkey"},
        "version": 1,
    }
    errors = []
    done = []
    n = process_messages(
        spark,
        [json.dumps(good), "{not json", json.dumps({"supplier_id": 2})],
        {3: read_local},
        sink=lambda df, cfg: done.append(df.count()),
        on_error=lambda m, e: errors.append(type(e).__name__),
    )
    assert n == 1 and done == [5]
    assert errors == ["InvalidConfigError", "InvalidConfigError"]


def test_job_stream_message_flood_trips_guard(spark, tmp_path, monkeypatch):
    # a subscription misrouted to a data topic must fail fast, not collect
    # an unbounded batch onto the driver
    from etl_edi_data_scrapper_spark.streaming import consumer

    monkeypatch.setattr(consumer, "MAX_MESSAGES_PER_BATCH", 5)
    msg_dir = tmp_path / "flood"
    msg_dir.mkdir()
    (msg_dir / "flood.jsonl").write_text(
        "\n".join('{"bogus": %d}' % i for i in range(50)) + "\n"
    )
    q = consumer.run_job_stream(
        spark, {}, lambda df, cfg: None,
        source_path=str(msg_dir),
        checkpoint_dir=str(tmp_path / "ckpt"),
        on_error=lambda m, e: None,
    )
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="data topic"):
        q.processAllAvailable()
        q.awaitTermination(10)
    q.stop()


# --- suite fixture staging ------------------------------------------------------


def test_suite_fixture_queries_leave_no_staging(spark, sf_dir, tmp_path, monkeypatch):
    """`excel_scan` decodes its staged workbooks on the driver and removes
    them before returning; `rest_scan` reads in-memory pages; `morris_xml`
    and `csv_scan` scan lazily, so their fixtures are staged at most once
    per process (and sf_dir), however often they are built, each in a
    private (0o700) temp directory."""
    import os
    import tempfile

    from etl_edi_data_scrapper_spark.suite import _FIXTURE_DIRS, QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for _ in range(2):
        assert len(QUERIES["excel_scan"](spark, sf_dir).collect()) == 14
        assert len(QUERIES["morris_xml"](spark, sf_dir).collect()) == 3
        assert len(QUERIES["rest_scan"](spark, sf_dir).collect()) == 14
        [row] = QUERIES["csv_scan"](spark, sf_dir).collect()
        assert row.n > 0
    assert not list(tmp_path.glob("etl_xlsx_q_*"))
    assert not list(tmp_path.glob("etl_rest_*"))
    assert len(list(tmp_path.glob("etl_xml_q_*"))) <= 1
    assert len(list(tmp_path.glob("etl_csv_stage_*"))) <= 1
    assert {p.split("_")[1] for p in _FIXTURE_DIRS} == {"csv", "xml"}
    assert all(os.stat(d).st_mode & 0o777 == 0o700 for d in _FIXTURE_DIRS.values())
