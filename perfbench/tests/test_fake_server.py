"""The benchmark's fake Sheets server against the test suite's fake.

Seeded request sequences are replayed against ``tests/fake_sheets.py``
and ``perfbench/fake_server.py``; every response (status and JSON) and
every final grid must be identical.  Grids are compared with trailing
empty cells dropped from each row: the test fake pads every row to the
grid's width, which no read can observe.
"""

from __future__ import annotations

import json
import random
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

from perfbench.fake_server import FakeSheets, FakeSheetsProcess
from tests.fake_sheets import FakeSheetsServer

SHEETS = ("Sheet1", "Other sheet")
RANGES = (None, "A1", "B2", "A1:C3", "B2:D", "A:C", "C:C", "2:4", "A3:B3", "D1:F9", "AA1:AB2")
CELLS = ("", "x", "true", "FALSE", " True ", "1.5", "-3", "a,b", 'say "hi"', "ünï", "日本")


def _a1(rng: random.Random) -> str:
    sheet = rng.choice(SHEETS + (None, "Missing"))
    cells = rng.choice(RANGES)
    if sheet is None:
        return cells or "Sheet1"
    quoted = f"'{sheet}'" if " " in sheet else sheet
    return f"{quoted}!{cells}" if cells else quoted


def _values(rng: random.Random) -> list[list[str]]:
    return [
        [rng.choice(CELLS) for _ in range(rng.randint(0, 4))]
        for _ in range(rng.randint(0, 5))
    ]


def requests_for(seed: int, n: int = 60):
    """A seeded sequence of (method, path, body, authorized)."""
    rng = random.Random(seed)
    sid = "ss"
    out = []
    for _ in range(n):
        a1 = urllib.parse.quote(_a1(rng), safe="")
        kind = rng.choice(("get", "get", "update", "append", "append", "clear",
                           "meta", "drive", "add", "bad", "unauth", "nostore"))
        base = f"/v4/spreadsheets/{sid}/values/{a1}"
        entered = "?valueInputOption=USER_ENTERED" if rng.random() < 0.8 else ""
        body = {"values": _values(rng)}
        out.append({
            "get": ("GET", base, None, True),
            "update": ("PUT", base + entered, body, True),
            "append": ("POST", base + ":append" + entered, body, True),
            "clear": ("POST", base + ":clear", {}, True),
            "meta": ("GET", f"/v4/spreadsheets/{sid}", None, True),
            "drive": ("GET", f"/drive/v3/files/{sid}?fields=version", None, True),
            "add": ("POST", f"/v4/spreadsheets/{sid}:batchUpdate",
                    {"requests": [{"addSheet": {"properties": {"title": f"T{rng.randint(0, 3)}"}}}]},
                    True),
            "bad": ("GET", f"/v4/spreadsheets/{sid}/nope", None, True),
            "unauth": ("GET", base, None, False),
            "nostore": ("GET", f"/v4/spreadsheets/missing/values/A1", None, True),
        }[kind])
    return out


def _send(port: int, method: str, path: str, body, authorized: bool):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", data=data, method=method)
    if authorized:
        req.add_header("Authorization", "Bearer t")
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def _trimmed(grid):
    out = []
    for row in grid:
        end = len(row)
        while end and row[end - 1] == "":
            end -= 1
        out.append(row[:end])
    return out


@pytest.fixture
def servers():
    ref = FakeSheetsServer().start()
    app = FakeSheets()
    httpd = app.serve()
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    try:
        yield ref, app, httpd.server_address[1]
    finally:
        httpd.shutdown()
        httpd.server_close()
        thread.join(timeout=10)
        ref.stop()


@pytest.mark.parametrize("seed", range(8))
def test_same_responses_and_grids(servers, seed):
    ref, app, port = servers
    ref_store = ref.new_spreadsheet("ss")
    app.admin("POST", "/_bench/spreadsheet", json.dumps({"id": "ss", "sheets": []}).encode())
    for name in SHEETS:
        ref_store.add_sheet(name, [])
        app.stores["ss"].add_sheet(name)
    ref_port = ref._server.server_address[1]
    for method, path, body, authorized in requests_for(seed):
        want = _send(ref_port, method, path, body, authorized)
        got = _send(port, method, path, body, authorized)
        assert got == want, (method, urllib.parse.unquote(path), body)
    store = app.stores["ss"]
    assert [s["title"] for s in store.sheets] == [s["title"] for s in ref_store.sheets]
    for name, grid in ref_store.grids.items():
        assert _trimmed(store.grids[name]) == _trimmed(grid), name
    assert store.version == ref_store.version


def test_process_logs_every_request():
    with FakeSheetsProcess() as server:
        server.new_spreadsheet("ss")
        port = server.port
        assert _send(port, "PUT", "/v4/spreadsheets/ss/values/A1%3AB2?valueInputOption=USER_ENTERED",
                     {"values": [["a", "true"], ["1"]]}, True)[0] == 200
        assert _send(port, "GET", "/v4/spreadsheets/ss/values/Sheet1", None, True) == (
            200, {"range": "Sheet1", "majorDimension": "ROWS", "values": [["a", "TRUE"], ["1"]]}
        )
        assert _send(port, "GET", "/v4/spreadsheets/ss", None, False)[0] == 401
        log = server.take_log()
        assert [r["kind"] for r in log] == ["values_update", "values_get", "unauthorized"]
        assert [r["status"] for r in log] == [200, 200, 401]
        assert log[0]["cells"] == 3 and log[1]["cells"] == 3
        assert all(r["end"] >= r["start"] and r["bytes_out"] > 0 for r in log)
        assert log[0]["bytes_in"] > 0
        assert server.take_log() == []
        proc = server.proc
    assert proc.poll() is not None
