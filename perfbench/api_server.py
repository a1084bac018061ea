"""Paginated JSON API for the HTTP extract, run as its own process.

    python3 perfbench/api_server.py PAGES.jsonl PER_PAGE

Line ``n`` of ``PAGES.jsonl`` is the body of page ``n`` (1-based),
already serialized, so a request costs the server a list lookup and a
socket write: the benchmark times the client, not this server. Serves
``GET /rows?page=N&per_page=PER_PAGE``; a page past the end is an empty
``data`` list. Prints ``PORT <n>`` once it listens, then serves until
terminated.
"""

from __future__ import annotations

import sys
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

EMPTY = b'{"data": [], "meta": {"total": 0}}'


def main(argv: list[str]) -> None:
    with open(argv[0], "rb") as fh:
        pages = [line.rstrip(b"\n") for line in fh]
    per_page = argv[1]

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"  # keep-alive for the client's sessions

        def log_message(self, *a):
            pass

        def do_GET(self):
            url = urlparse(self.path)
            qs = parse_qs(url.query)
            if url.path != "/rows" or qs.get("per_page") != [per_page]:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            page = int(qs.get("page", ["1"])[0])
            data = pages[page - 1] if 1 <= page <= len(pages) else EMPTY
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    print(f"PORT {server.server_address[1]}", flush=True)
    server.serve_forever()


if __name__ == "__main__":
    main(sys.argv[1:])
