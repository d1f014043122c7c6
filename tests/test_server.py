"""HTTP read shim (functions/server.py): request -> JSON equal to the
materialized enrich_entities row; console routing, entity linking,
format prefixes, count introspection — webserver.cpp's read surface
without fork-per-request or Spark-per-entity-request."""

from __future__ import annotations

import json
import urllib.request

import pytest

from netbase_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="test_server", cpus=4, shuffle_partitions=4,
                  driver_memory="4g")
    yield s


@pytest.fixture(scope="module")
def served(spark):
    from netbase_spark.functions.console import Console
    from netbase_spark.functions.server import KgHttpServer
    from netbase_spark.operators.materialize import enrich_entities
    from netbase_spark.relations import INSTANCE, TYPE

    t = spark.createDataFrame(
        [
            ("Alte Stadt", TYPE, "settlement", "r", None),
            ("settlement", TYPE, "place", "r", None),
            ("Alte Stadt", 9001, "x", "r", None),
            ("city", INSTANCE, "gehren", "seed", None),
            ("gehren", TYPE, "ort", "seed", None),
        ],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    nodes = (
        t.selectExpr("subj as node").union(t.selectExpr("obj as node")).distinct()
    )
    enriched = enrich_entities(nodes, t)
    srv = KgHttpServer(Console(spark, t), enriched=enriched)
    url = srv.start()
    yield srv, url, enriched, t
    srv.stop()


def _get(url, accept_status=200):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        assert e.code == accept_status
        return e.code, e.read()


def test_node_endpoint_equals_enriched_row(served):
    srv, url, enriched, _ = served
    want = enriched.where("node = 'Alte Stadt'").collect()[0].asDict()
    status, body = _get(f"{url}/node/Alte%20Stadt")
    assert status == 200
    assert json.loads(body) == [want]
    # 404 for an unknown node
    status, _ = _get(f"{url}/node/nope", accept_status=404)
    assert status == 404


def test_console_query_and_formats(served):
    srv, url, _, t = served
    # console line through /q/: bare word lists the node's statements
    status, body = _get(f"{url}/q/gehren")
    assert status == 200
    rows = json.loads(body)
    assert {(r["subj"], r["obj"]) for r in rows} >= {("gehren", "ort")}
    # csv prefix renders header + rows
    status, body = _get(f"{url}/csv/q/gehren")
    lines = body.decode().strip().splitlines()
    assert status == 200 and len(lines) == len(rows) + 1
    assert set(lines[0].split(",")) >= {"subj", "rel", "obj"}
    # txt prefix
    status, body = _get(f"{url}/txt/count")
    assert status == 200 and body.decode().startswith("statements")
    # ?q= query-param form
    status, body = _get(f"{url}/?q=gehren")
    assert json.loads(body) == rows


def test_count_and_entity_linking(served):
    srv, url, _, t = served
    status, body = _get(f"{url}/count")
    (rec,) = json.loads(body)
    assert rec["statements"] == t.count()
    assert rec["nodes"] == 7
    # entity linking over ad-hoc text, enriched from the materialized
    # payload (class/topic/degree/seo merged into the mention row)
    status, body = _get(f"{url}/ee/ich%20wohne%20in%20gehren")
    assert status == 200
    rows = json.loads(body)
    hits = [r for r in rows if r.get("alias_key") == "gehren"]
    assert hits and hits[0]["seo"] == "gehren"
    # bad console input surfaces as 400, not a hung 500
    status, body = _get(f"{url}/q/:path%20onlyone", accept_status=400)
    assert status == 400 and "error" in json.loads(body)[0]
    # a write command is refused before it is parsed
    status, body = _get(f"{url}/q/:update%20broken", accept_status=403)
    assert status == 403 and "error" in json.loads(body)[0]


def test_q_refuses_write_commands(served, tmp_path):
    """/q/ is read-only: a line that would change the served table or
    write a server-side path gets 403 and is not executed."""
    srv, url, _, t = served
    before = json.loads(_get(f"{url}/count")[1])
    status, body = _get(f"{url}/q/:learn%20gehren%20is%20a%20town", accept_status=403)
    assert status == 403 and "error" in json.loads(body)[0]
    assert json.loads(_get(f"{url}/count")[1]) == before
    assert srv.console.triples is t
    target = tmp_path / "x"
    status, body = _get(f"{url}/q/:save%20{target}", accept_status=403)
    assert status == 403 and "error" in json.loads(body)[0]
    assert not target.exists()
