"""Loopback site farm and mock chat-completions endpoint for leadsight_crawl.

Every live host is its own HTTP server on 127.0.0.1 (its own authority, so
robots.txt is per host). Each request waits the host's fixed latency before
it is answered. Dead hosts hold a bound port that never listens, so a
connection is refused. A control server answers /reset and /stats so the
traced pass can read the farm-side counts of its own window.
"""
import json
import re
import socket
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


def _page(title, paras, links=()):
    body = "".join(f"<p>{p}</p>" for p in paras)
    body += "".join(f'<a href="{h}">{a}</a>' for h, a in links)
    return f"<html><head><title>{title}</title></head><body><h1>{title}</h1>{body}</body></html>"


def site_pages(h):
    """path → HTML for one host (paths absent here answer 404)."""
    f = h["facts"]
    pages = {
        "/": _page(h["name"], [f"{h['name']} serves customers worldwide."], h["links"]),
        "/products": _page("Products", ["Catalog.", "Three product lines."]),
        "/contact": _page("Contact", ["Contact.", "Use the form on this page."]),
        "/careers": _page("Careers", ["Careers.", "No open roles."]),
        "/investors": _page("Investors", ["Investor relations.", "Annual reports are published each spring."]),
        "/company/leadership": _page("Leadership", ["Leadership.", "Our board meets quarterly."]),
        # robots.txt disallows /private/ everywhere: a crawler that reads
        # this page picks up the wrong facts
        "/private/overview": _page("Overview", ["Overview.", "Founded in 1066.", "Mail decoy@private.example now."]),
    }
    if not h["missing_about"]:
        pages[h["about_path"]] = _page("Company profile", [
            "Company profile.", f"{f['about']}.", f"{f['founded']}.",
            f"Write to {f['email']} for details."])
    return pages


def robots_txt(h):
    return "User-agent: *\n" + "".join(f"Disallow: {d}\n" for d in h["disallow"])


class Counters:
    def __init__(self):
        self.lock = threading.Lock()
        self.violations = []      # disallowed paths requested, never reset
        self.llm_bad = 0
        self.reset()

    def reset(self):
        with self.lock:
            self.requests = self.robots = self.s4xx = self.useful = 0
            self.dup = 0
            self.seen = set()
            self.inflight = self.inflight_max = 0
            self.intervals = []
            self.llm_calls = self.llm_inflight = self.llm_inflight_max = 0

    def stats(self, t0, t1):
        with self.lock:
            iv = sorted((max(a, t0), min(b, t1)) for a, b in self.intervals if b > t0 and a < t1)
            busy, s, e = 0.0, None, None
            for a, b in iv:
                if e is None or a > e:
                    if e is not None:
                        busy += e - s
                    s, e = a, b
                else:
                    e = max(e, b)
            if e is not None:
                busy += e - s
            return {
                "sources.web.requests": self.requests,
                "sources.web.dup_requests": self.dup,
                "sources.web.robots_requests": self.robots,
                "sources.web.status_4xx": self.s4xx,
                "sources.web.inflight_max": self.inflight_max,
                "sources.web.useful_ratio": self.useful / self.requests if self.requests else 0.0,
                "sources.web.wait_share": busy / (t1 - t0) if t1 > t0 else 0.0,
                "operators.enrich.inflight_max": self.llm_inflight_max,
            }


class _Quiet(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, *a):
        pass

    def reply(self, code, body, ctype="text/html; charset=utf-8"):
        data = body.encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)


def _site_handler(h, counters):
    pages = site_pages(h)
    robots = robots_txt(h)
    latency = h["latency_ms"] / 1000.0

    class Site(_Quiet):
        def do_GET(self):
            c = counters
            t0 = time.time()
            path = urlparse(self.path).path
            with c.lock:
                c.requests += 1
                c.inflight += 1
                c.inflight_max = max(c.inflight_max, c.inflight)
                if path == "/robots.txt":
                    c.robots += 1
                elif (h["name"], path) in c.seen:
                    c.dup += 1
                c.seen.add((h["name"], path))
                if any(path.startswith(d) for d in h["disallow"]):
                    c.violations.append(f"{h['name']}{path}")
            try:
                time.sleep(latency)
                if path == "/robots.txt":
                    code, body = 200, robots
                    self.reply(code, body, "text/plain")
                elif path in pages:
                    code, body = 200, pages[path]
                    self.reply(code, body)
                else:
                    code = 404
                    self.reply(code, "not found", "text/plain")
            finally:
                with c.lock:
                    c.inflight -= 1
                    c.intervals.append((t0, time.time()))
                    if 400 <= code < 500:
                        c.s4xx += 1
                    elif code == 200 and path != "/robots.txt":
                        c.useful += 1

    return Site


_PROMPT = re.compile(r"^Analyze (.*) \((.*)\)\. Context: (.*)$", re.S)


def llm_content(company):
    """The document the mock model returns for one company."""
    return json.dumps({
        "company_overview": {"name": company, "summary": f"{company} operates a data platform"},
        "business_model": {"model": "saas", "channels": "direct"},
        "leadership": f"{company} team",
        "executive_brief": f"Brief for {company}",
    })


def _llm_handler(counters, latency):
    class Llm(_Quiet):
        def do_POST(self):
            c = counters
            with c.lock:
                c.llm_calls += 1
                c.llm_inflight += 1
                c.llm_inflight_max = max(c.llm_inflight_max, c.llm_inflight)
            try:
                n = int(self.headers.get("Content-Length", "0"))
                req = json.loads(self.rfile.read(n))
                m = _PROMPT.match(req["messages"][0]["content"])
                time.sleep(latency)
                if not m:
                    with c.lock:
                        c.llm_bad += 1
                    self.reply(400, "bad prompt", "text/plain")
                    return
                out = {"choices": [{"message": {"role": "assistant", "content": llm_content(m.group(1))}}]}
                self.reply(200, json.dumps(out), "application/json")
            finally:
                with c.lock:
                    c.llm_inflight -= 1

    return Llm


def _control_handler(counters):
    class Control(_Quiet):
        def do_GET(self):
            u = urlparse(self.path)
            if u.path == "/reset":
                counters.reset()
                self.reply(200, "{}", "application/json")
            elif u.path == "/stats":
                q = parse_qs(u.query)
                t0 = float(q["t0"][0]) / 1000.0
                t1 = float(q["t1"][0]) / 1000.0
                self.reply(200, json.dumps(counters.stats(t0, t1)), "application/json")
            else:
                self.reply(404, "", "text/plain")

    return Control


class Farm:
    """Start with `start()`, always `stop()` (joins every server thread)."""

    def __init__(self, hosts, llm_latency_ms):
        self.hosts = hosts
        self.llm_latency = llm_latency_ms / 1000.0
        self.counters = Counters()
        self.servers, self.threads, self.dead = [], [], []
        self.bases = []

    def _serve(self, handler):
        srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        srv.daemon_threads = True
        th = threading.Thread(target=srv.serve_forever, kwargs={"poll_interval": 0.1}, daemon=True)
        th.start()
        self.servers.append(srv)
        self.threads.append(th)
        return f"http://127.0.0.1:{srv.server_address[1]}"

    def start(self):
        for h in self.hosts:
            if h["dead"]:
                s = socket.socket()
                s.bind(("127.0.0.1", 0))   # bound, never listening: connect is refused
                self.dead.append(s)
                self.bases.append(f"http://127.0.0.1:{s.getsockname()[1]}")
            else:
                self.bases.append(self._serve(_site_handler(h, self.counters)))
        self.llm_url = self._serve(_llm_handler(self.counters, self.llm_latency)) + "/v1/chat/completions"
        self.ctl_url = self._serve(_control_handler(self.counters))
        return self

    def stop(self):
        for srv in self.servers:
            srv.shutdown()
            srv.server_close()
        for th in self.threads:
            th.join(timeout=5)
        for s in self.dead:
            s.close()
