"""The benchmark's own fake Sheets v4 server.

It serves the routes of ``tests/fake_sheets.py`` with the same grid
semantics (values get/update/append/clear, spreadsheet metadata,
batchUpdate addSheet, USER_ENTERED boolean normalisation, trailing-empty
trimming on reads), with two differences that matter for measurement:

* each request costs O(cells it touches): rows are grown one at a time
  and only the rows written, where the test fake pads every row of the
  grid for every cell it writes;
* it runs in a process of its own (``FakeSheetsProcess``), so its
  handling time does not contend for the benchmark process's GIL.

Every API request is logged with its method, route kind, status, bytes
in and out, cells carried, and its start and end on the host's
monotonic clock (``time.perf_counter`` reads CLOCK_MONOTONIC on Linux,
so the stamps are comparable with the benchmark process's).  The log and the
spreadsheets are managed over ``/_bench/...`` routes, which are not
logged.

Run directly, it serves until killed:
``python3 perfbench/fake_server.py`` prints ``PORT <n>`` once it listens.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
import urllib.parse
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_gsheets_spark.sources.gsheets.a1 import A1Range, parse_bounds

Grid = list[list[str]]


class Store:
    """One spreadsheet: sheet properties plus one grid per sheet."""

    def __init__(self, spreadsheet_id: str, title: str = "Fake Spreadsheet"):
        self.spreadsheet_id = spreadsheet_id
        self.title = title
        self.sheets: list[dict] = []
        self.grids: dict[str, Grid] = {}
        self.version = 1

    def add_sheet(self, name: str) -> dict:
        props = {
            "sheetId": len(self.sheets),
            "title": name,
            "index": len(self.sheets),
            "sheetType": "GRID",
        }
        self.sheets.append(props)
        self.grids[name] = []
        self.version += 1
        return props

    def metadata(self) -> dict:
        return {
            "spreadsheetId": self.spreadsheet_id,
            "properties": {
                "title": self.title,
                "locale": "en_US",
                "timeZone": "Etc/UTC",
            },
            "sheets": [{"properties": p} for p in self.sheets],
        }

    def _resolve(self, a1: str):
        rng = A1Range.parse(a1)
        sheet = rng.sheet if rng.sheet is not None else self.sheets[0]["title"]
        if sheet not in self.grids:
            raise KeyError(sheet)
        return sheet, parse_bounds(rng.cell_range)

    def get(self, a1: str) -> Grid:
        sheet, b = self._resolve(a1)
        grid = self.grids[sheet]
        r0 = b.row_start or 0
        c0 = b.col_start or 0
        r1 = min(b.row_end if b.row_end is not None else len(grid) - 1, len(grid) - 1)
        out: Grid = []
        for r in range(r0, r1 + 1):
            row = grid[r]
            if b.col_end is None:
                cells = row[c0:]
            else:
                cells = row[c0 : b.col_end + 1]
                cells += [""] * (b.col_end + 1 - c0 - len(cells))
            end = len(cells)
            while end and cells[end - 1] == "":
                end -= 1
            out.append(cells[:end])
        while out and not out[-1]:
            out.pop()
        return out

    def _put(self, grid: Grid, r: int, c: int, cell: str) -> None:
        while len(grid) <= r:
            grid.append([])
        row = grid[r]
        if len(row) <= c:
            row.extend([""] * (c + 1 - len(row)))
        row[c] = cell

    def update(self, a1: str, values: Grid) -> int:
        sheet, b = self._resolve(a1)
        grid = self.grids[sheet]
        r0 = b.row_start or 0
        c0 = b.col_start or 0
        n = 0
        for i, row in enumerate(values):
            r = r0 + i
            if b.row_end is not None and r > b.row_end:
                break
            for j, cell in enumerate(row):
                c = c0 + j
                if b.col_end is not None and c > b.col_end:
                    break
                self._put(grid, r, c, cell)
                n += 1
        self.version += 1
        return n

    def append(self, a1: str, values: Grid) -> int:
        """Append below the last row holding a value in the range's
        column span, scanning up from the bottom of the grid."""
        sheet, b = self._resolve(a1)
        grid = self.grids[sheet]
        c0 = b.col_start or 0
        c1 = b.col_end
        last = -1
        for r in range(len(grid) - 1, -1, -1):
            span = grid[r][c0 : (c1 + 1) if c1 is not None else None]
            if any(cell != "" for cell in span):
                last = r
                break
        start = max(last + 1, b.row_start or 0)
        n = 0
        for i, row in enumerate(values):
            for j, cell in enumerate(row):
                self._put(grid, start + i, c0 + j, cell)
                n += 1
        self.version += 1
        return n

    def clear(self, a1: str) -> None:
        sheet, b = self._resolve(a1)
        grid = self.grids[sheet]
        self.version += 1
        if b.row_start is None and b.col_start is None and b.row_end is None:
            self.grids[sheet] = []
            return
        r0 = b.row_start or 0
        c0 = b.col_start or 0
        r1 = b.row_end if b.row_end is not None else len(grid) - 1
        for r in range(r0, min(r1, len(grid) - 1) + 1):
            row = grid[r]
            c1 = b.col_end if b.col_end is not None else len(row) - 1
            for c in range(c0, min(c1, len(row) - 1) + 1):
                row[c] = ""


def user_entered(values: Grid) -> Grid:
    """USER_ENTERED parsing of typed booleans: any-case true/false
    becomes the canonical TRUE/FALSE a read returns."""
    return [
        [
            cell.strip().upper()
            if isinstance(cell, str) and cell.strip().lower() in ("true", "false")
            else cell
            for cell in row
        ]
        for row in values
    ]


def _cells(values: Grid) -> int:
    return sum(len(row) for row in values)


class FakeSheets:
    """The request router and log; serves over HTTP in ``serve``."""

    def __init__(self) -> None:
        self.stores: dict[str, Store] = {}
        self.log: list[dict] = []
        self.lock = threading.Lock()

    def handle(self, method: str, raw_path: str, body: bytes, authorized: bool):
        """One API request -> (status, payload, route kind, cells)."""
        path = urllib.parse.unquote(raw_path.split("?")[0])
        query = raw_path.split("?", 1)[1] if "?" in raw_path else ""
        if not authorized:
            return 401, {"error": {"message": "unauthorized"}}, "unauthorized", 0
        payload = json.loads(body) if body else {}
        parts = path.split("/")
        # /v4/spreadsheets/<sid>[/values/<a1>] or /drive/v3/files/<sid>
        try:
            if parts[1:3] == ["v4", "spreadsheets"] and len(parts) >= 4:
                sid = parts[3]
                if len(parts) >= 6 and parts[4] == "values":
                    return self._values(
                        method, self.stores[sid], "/".join(parts[5:]), query, payload
                    )
                if len(parts) == 4 and sid.endswith(":batchUpdate") and method == "POST":
                    store = self.stores[sid[: -len(":batchUpdate")]]
                    replies = [
                        {"addSheet": {"properties": store.add_sheet(
                            req["addSheet"]["properties"]["title"])}}
                        for req in payload.get("requests", [])
                        if "addSheet" in req
                    ]
                    return 200, {"replies": replies}, "batch_update", 0
                if len(parts) == 4 and ":" not in sid and method == "GET":
                    return 200, self.stores[sid].metadata(), "metadata_get", 0
            if parts[1:4] == ["drive", "v3", "files"] and len(parts) == 5 and method == "GET":
                version = str(self.stores[parts[4]].version)
                return 200, {"version": version}, "drive_get", 0
            return 404, {"error": {"message": f"no route {path}"}}, "not_found", 0
        except KeyError as ex:
            return 404, {"error": {"message": f"not found: {ex}"}}, "not_found", 0

    def _values(self, method, store: Store, rest: str, query: str, payload: dict):
        verb = None
        for suffix in (":append", ":clear"):
            if rest.endswith(suffix):
                rest, verb = rest[: -len(suffix)], suffix
        a1 = rest
        values = payload.get("values", [])
        if "valueInputOption=USER_ENTERED" in query:
            values = user_entered(values)
        if method == "GET" and verb is None:
            vals = store.get(a1)
            out = {"range": a1, "majorDimension": "ROWS"}
            if vals:
                out["values"] = vals
            return 200, out, "values_get", _cells(vals)
        if method == "PUT" and verb is None:
            n = store.update(a1, values)
            return 200, {"updatedCells": n}, "values_update", _cells(values)
        if method == "POST" and verb == ":append":
            n = store.append(a1, values)
            return 200, {"updates": {"updatedCells": n}}, "values_append", _cells(values)
        if method == "POST" and verb == ":clear":
            store.clear(a1)
            return 200, {"clearedRange": a1}, "values_clear", 0
        return 405, {"error": {"message": "bad verb"}}, "not_found", 0

    def admin(self, method: str, path: str, body: bytes) -> dict:
        """``/_bench`` routes: create a spreadsheet; take the log."""
        payload = json.loads(body) if body else {}
        if path == "/_bench/spreadsheet" and method == "POST":
            store = Store(payload["id"])
            for name in payload.get("sheets", ["Sheet1"]):
                store.add_sheet(name)
            self.stores[store.spreadsheet_id] = store
            return {"ok": True}
        if path == "/_bench/log":
            log, self.log = self.log, []
            return {"log": log}
        raise KeyError(path)

    def serve(self, port: int = 0) -> ThreadingHTTPServer:
        app = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def _send(self, status: int, payload: dict) -> int:
                body = json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return len(body)

            def _handle(self, method: str) -> None:
                start = time.perf_counter()
                length = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(length) if length else b""
                if self.path.startswith("/_bench/"):
                    with app.lock:
                        try:
                            payload, status = app.admin(method, self.path, body), 200
                        except KeyError as ex:
                            payload, status = {"error": str(ex)}, 404
                    self._send(status, payload)
                    return
                auth = self.headers.get("Authorization", "")
                with app.lock:
                    status, payload, kind, cells = app.handle(
                        method, self.path, body, auth.startswith("Bearer ") and len(auth) > 7
                    )
                    out_bytes = len(json.dumps(payload).encode())
                    record = {
                        "method": method,
                        "kind": kind,
                        "status": status,
                        "bytes_in": length,
                        "bytes_out": out_bytes,
                        "cells": cells,
                        "start": start,
                    }
                self._send(status, payload)
                record["end"] = time.perf_counter()
                with app.lock:
                    app.log.append(record)

            def do_GET(self):
                self._handle("GET")

            def do_POST(self):
                self._handle("POST")

            def do_PUT(self):
                self._handle("PUT")

        return ThreadingHTTPServer(("127.0.0.1", port), Handler)


class FakeSheetsProcess:
    """Runs ``FakeSheets`` in a child process; a context manager that
    stops and reaps the child on exit."""

    def __init__(self, env: dict[str, str] | None = None):
        self._env = env
        self.proc: subprocess.Popen | None = None
        self.port = 0

    def __enter__(self) -> "FakeSheetsProcess":
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdout=subprocess.PIPE,
            env=self._env,
            text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.__exit__(None, None, None)
            raise RuntimeError(f"fake Sheets server failed to start: {line!r}")
        self.port = int(line.split()[1])
        return self

    def __exit__(self, *exc) -> None:
        if self.proc is not None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
            self.proc.stdout.close()
            self.proc = None

    @property
    def api_base(self) -> str:
        return f"http://127.0.0.1:{self.port}/v4"

    def _admin(self, method: str, path: str, payload: dict | None = None) -> dict:
        data = json.dumps(payload).encode() if payload is not None else None
        req = urllib.request.Request(
            f"http://127.0.0.1:{self.port}{path}", data=data, method=method
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.loads(resp.read())

    def new_spreadsheet(self, spreadsheet_id: str, sheets=("Sheet1",)) -> None:
        self._admin("POST", "/_bench/spreadsheet", {"id": spreadsheet_id, "sheets": list(sheets)})

    def take_log(self) -> list[dict]:
        """Return the requests logged since the last call and reset."""
        return self._admin("GET", "/_bench/log")["log"]


def main() -> None:
    server = FakeSheets().serve()
    print(f"PORT {server.server_address[1]}", flush=True)
    server.serve_forever()


if __name__ == "__main__":
    main()
