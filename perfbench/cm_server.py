"""Loopback Cloudera Manager ``impalaQueries`` endpoint for the
``api_pages`` workload.

Serves the pre-rendered pages ``gen.write_api_pages`` wrote, by the
request's ``offset``; an offset past the last page gets an empty page.
Single-threaded, HTTP/1.1 keep-alive, so the client's one pooled
connection is reused for every page. Writes its port to ``port_file``
once it listens::

    python3 perfbench/cm_server.py <pages_dir> <port_file>
"""

from __future__ import annotations

import sys
from http.server import BaseHTTPRequestHandler, HTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlsplit

EMPTY_PAGE = b'{"queries":[],"warnings":[]}'


def make_handler(pages: dict[int, bytes]) -> type[BaseHTTPRequestHandler]:
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self) -> None:  # noqa: N802 — http.server's hook name
            query = parse_qs(urlsplit(self.path).query)
            body = pages.get(int(query.get("offset", ["0"])[0]), EMPTY_PAGE)
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, format, *args) -> None:  # noqa: A002
            pass

    return Handler


def main(pages_dir: Path, port_file: Path) -> None:
    pages = {
        int(p.stem.split("-")[1]): p.read_bytes() for p in pages_dir.glob("page-*.json")
    }
    server = HTTPServer(("127.0.0.1", 0), make_handler(pages))
    tmp = port_file.with_suffix(".tmp")
    tmp.write_text(str(server.server_address[1]))
    tmp.rename(port_file)
    server.serve_forever()


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit("usage: cm_server.py <pages_dir> <port_file>")
    main(Path(sys.argv[1]), Path(sys.argv[2]))
