"""The CAP workloads' HTTP load generator: feed, alert and ingest server.

One asyncio event loop on one thread serves everything. Bodies are
rendered before the engine starts; round-trip time is a loop timer, so
a delayed response occupies no thread. Every publish and every received
feature is timestamped on the loop's clock.

Routes:
  GET  /feed/batch              the batch feed (all alerts)
  GET  /feed/stream             the latest `window` links published so far
  GET  /cap/<key>               one alert document
  POST /ingest/<tag>            a FeatureCollection from the cloudtak sink
  GET  /ctl/verify?tag=<tag>    check and release <tag>'s deliveries; also
                                returns the server counters since the last call
  GET  /ctl/go                  start the stream's publish schedule
  GET  /ctl/status              stream progress: tick, done
"""
import asyncio
import json
import threading
import time
from urllib.parse import parse_qs, urlsplit


def rss(base, keys):
    return ("<rss version=\"2.0\"><channel><title>bench</title>" +
            "".join(f"<item><link>{base}/cap/{k}</link></item>" for k in keys) +
            "</channel></rss>").encode()


class _Conn(asyncio.Protocol):
    def __init__(self, gen):
        self.gen, self.buf, self.head = gen, bytearray(), None

    def connection_made(self, transport):
        self.t = transport

    def data_received(self, data):
        self.buf += data
        while True:
            if self.head is None:
                i = self.buf.find(b"\r\n\r\n")
                if i < 0:
                    return
                lines = bytes(self.buf[:i]).decode("latin-1").split("\r\n")
                del self.buf[:i + 4]
                method, target = lines[0].split(" ")[:2]
                length = 0
                for h in lines[1:]:
                    k, _, v = h.partition(":")
                    if k.strip().lower() == "content-length":
                        length = int(v)
                self.head = (method, target, length)
            method, target, length = self.head
            if len(self.buf) < length:
                return
            body = bytes(self.buf[:length])
            del self.buf[:length]
            self.head = None
            self.gen.handle(self, method, target, body)

    def reply(self, body, status=200, ctype=b"application/xml"):
        if self.t.is_closing():
            return
        self.t.write(b"HTTP/1.1 %d X\r\nContent-Type: %s\r\nContent-Length: %d\r\n\r\n"
                     % (status, ctype, len(body)) + body)


class LoadGen:
    """alerts: gen_cap alerts. For the stream, `stream` holds the schedule:
    per_tick alerts a tick, `setup_ticks` pre-published, then `warm_ticks`
    + `ticks` after /ctl/go, one every `period` seconds."""

    def __init__(self, alerts, rtt=0.0, stream=None, window=200, drain_s=30.0):
        self.alerts = {a["key"]: a for a in alerts}
        self.order = [a["key"] for a in alerts]
        self.owner = {fid: a["key"] for a in alerts for fid in a["expect"]}
        self.rtt, self.stream, self.window, self.drain_s = rtt, stream, window, drain_s
        self.loop = asyncio.new_event_loop()
        self.bodies = {}          # tag -> [(t_recv, body)], checked at /ctl/verify
        self.received = {}        # stream: feature id -> [t_recv]
        self.features = {}        # stream: feature id -> feature
        self.counters = self._zero()
        self.inflight, self.area, self.t_area = 0, 0.0, None
        self.lateness_max = 0.0
        self.published = {}       # key -> scheduled publish time (stream)
        self.tick_of = {}         # key -> tick index (stream)
        self.tick, self.go_at, self.done = 0, None, False
        self.pass_latency = {}    # batch tag -> [feed read -> last feature received] per alert
        ready = threading.Event()
        self.thread = threading.Thread(target=self._serve, args=(ready,), daemon=True)
        self.thread.start()
        ready.wait()

    # --- serving -------------------------------------------------------
    def _serve(self, ready):
        asyncio.set_event_loop(self.loop)
        self.server = self.loop.run_until_complete(
            self.loop.create_server(lambda: _Conn(self), "127.0.0.1", 0))
        self.base = "http://127.0.0.1:%d" % self.server.sockets[0].getsockname()[1]
        self.batch_feed = rss(self.base, self.order)
        if self.stream:
            s = self.stream
            self.setup_keys = self.order[:s["per_tick"] * s["setup_ticks"]]
            # feed body after each tick, newest link first
            self.feeds = []
            for t in range(s["setup_ticks"], len(self.order) // s["per_tick"] + 1):
                keys = self.order[:t * s["per_tick"]][::-1][:self.window]
                self.feeds.append(rss(self.base, keys))
            now = self.loop.time()
            for k in self.setup_keys:
                self.published[k], self.tick_of[k] = now, -1
        self.cpu0, self.wall0 = time.thread_time(), time.perf_counter()
        ready.set()
        self.loop.run_forever()

    def close(self):
        def stop():
            self.cpu1, self.wall1 = time.thread_time(), time.perf_counter()
            self.server.close()
            self.loop.stop()
        self.loop.call_soon_threadsafe(stop)
        self.thread.join(10)

    def busy_share(self):
        return (self.cpu1 - self.cpu0) / max(1e-9, self.wall1 - self.wall0)

    @staticmethod
    def _zero():
        return {"feed_gets": 0, "alert_gets": 0, "posts": 0, "post_bytes_max": 0,
                "post_bytes_total": 0, "first_get": None, "last_reply": None, "feed_at": None}

    def _account(self, now):
        if self.t_area is not None:
            self.area += self.inflight * (now - self.t_area)
        self.t_area = now

    def _delayed(self, conn, body, ctype=b"application/xml", cap=False):
        due = self.loop.time() + self.rtt

        def send():
            now = self.loop.time()
            self.lateness_max = max(self.lateness_max, now - due)
            conn.reply(body, ctype=ctype)
            if cap:
                self._account(now)
                self.inflight -= 1
                self.counters["last_reply"] = now
        if self.rtt > 0:
            self.loop.call_at(due, send)
        else:
            send()

    def handle(self, conn, method, target, body):
        url = urlsplit(target)
        path = url.path
        c = self.counters
        now = self.loop.time()
        if method == "GET" and path.startswith("/cap/"):
            a = self.alerts.get(path[5:])
            if a is None:
                return conn.reply(b"no such alert", 404)
            c["alert_gets"] += 1
            if c["first_get"] is None:
                c["first_get"] = now
            self._account(now)
            self.inflight += 1
            self._delayed(conn, a["xml"], cap=True)
        elif method == "GET" and path.startswith("/feed/"):
            c["feed_gets"] += 1
            if c["feed_at"] is None:
                c["feed_at"] = now
            name = path[6:]
            if name == "batch":
                self._delayed(conn, self.batch_feed)
            else:
                self._delayed(conn, self.feeds[self.tick])
        elif method == "POST" and path.startswith("/ingest/"):
            tag = path[8:]
            c["posts"] += 1
            c["post_bytes_total"] += len(body)
            c["post_bytes_max"] = max(c["post_bytes_max"], len(body))
            if tag == "stream":
                for f in json.loads(body)["features"]:
                    self.received.setdefault(f["id"], []).append(now)
                    self.features[f["id"]] = f
            else:
                self.bodies.setdefault(tag, []).append((now, body))
            conn.reply(b"{}", ctype=b"application/json")
        elif path == "/ctl/verify":
            tag = parse_qs(url.query)["tag"][0]
            conn.reply(json.dumps(self.verify(tag)).encode(), ctype=b"application/json")
        elif path == "/ctl/go":
            self._go()
            conn.reply(b"{}", ctype=b"application/json")
        elif path == "/ctl/status":
            s = self.stream
            conn.reply(json.dumps({
                "tick": self.tick, "done": self.done,
                "traced_from_tick": s["warm_ticks"] + s["ticks"] // 2}).encode(),
                ctype=b"application/json")
        else:
            conn.reply(b"not found", 404)

    # --- stream schedule -----------------------------------------------
    def _go(self):
        if self.go_at is not None:
            return
        s = self.stream
        self.go_at = self.loop.time()
        total = s["warm_ticks"] + s["ticks"]
        for t in range(total):
            due = self.go_at + t * s["period"]
            self.loop.call_at(due, self._publish, t, due)
        self.loop.call_at(self.go_at + (total - 1) * s["period"], self._drain_check,
                          self.go_at + (total - 1) * s["period"] + self.drain_s)

    def _publish(self, t, due):
        s = self.stream
        self.lateness_max = max(self.lateness_max, self.loop.time() - due)
        start = (s["setup_ticks"] + t) * s["per_tick"]
        for k in self.order[start:start + s["per_tick"]]:
            self.published[k], self.tick_of[k] = due, t
        self.tick = t + 1

    def _drain_check(self, deadline):
        s = self.stream
        if self.tick >= s["warm_ticks"] + s["ticks"]:
            pending = [f for k in self.published for f in self.alerts[k]["expect"]
                       if f not in self.received]
            if not pending or self.loop.time() >= deadline:
                self.done = True
                return
        self.loop.call_later(0.05, self._drain_check, deadline)

    # --- checks ----------------------------------------------------------
    def _check(self, keys, got):
        """got: feature id -> [feature, ...] received. Returns (failures:
        alerts not delivered exactly as expected plus unexpected features,
        up to four reasons, duplicate deliveries)."""
        failed, why, dups = 0, [], 0
        keys = set(keys)
        for fid, fs in got.items():
            if len(fs) > 1:
                dups += len(fs) - 1
        unexpected = [fid for fid in got if self.owner.get(fid) not in keys]
        for k in keys:
            a = self.alerts[k]
            bad = None
            for fid, want in a["expect"].items():
                fs = got.get(fid)
                if not fs:
                    bad = f"{fid} not delivered"
                elif len(fs) > 1:
                    bad = f"{fid} delivered {len(fs)} times"
                elif want is not None and fs[0] != want:
                    bad = f"{fid} differs from its golden feature"
                if bad:
                    break
            if bad:
                failed += 1
                if len(why) < 3:
                    why.append(bad)
        if unexpected:
            why.append(f"{len(unexpected)} unexpected features, e.g. {unexpected[0]}")
        return failed + len(unexpected), why, dups

    def verify(self, tag):
        c, self.counters = self.counters, self._zero()
        if tag == "stream":
            keys = list(self.published)
            got = {fid: [self.features[fid]] * len(ts) for fid, ts in self.received.items()}
        else:
            keys = self.window_keys()
            got, at = {}, {}
            for t, body in self.bodies.pop(tag, []):
                for f in json.loads(body)["features"]:
                    got.setdefault(f["id"], []).append(f)
                    at[f["id"]] = t
            if c["feed_at"] is not None:
                self.pass_latency[tag] = [
                    max(at[f] for f in self.alerts[k]["expect"]) - c["feed_at"] for k in keys
                    if self.alerts[k]["expect"] and all(f in at for f in self.alerts[k]["expect"])]
        failed, why, dups = self._check(keys, got)
        span = (c["last_reply"] or 0) - (c["first_get"] or 0)
        inflight = self.area / span if span > 0 else 0.0
        self.area, self.t_area = 0.0, None
        return {"tag": tag, "alerts": len(keys), "failed": failed, "why": "; ".join(why),
                "features": sum(len(v) for v in got.values()), "duplicates": dups,
                "inflight_mean": inflight,
                **{k: v for k, v in c.items() if k not in ("first_get", "last_reply", "feed_at")}}

    def window_keys(self):
        """The alerts the current feed lists."""
        if not self.stream:
            return self.order
        s = self.stream
        return self.order[:(s["setup_ticks"] + self.tick) * s["per_tick"]][::-1][:self.window]

    def latencies(self, ticks):
        """(scheduled-publish -> last feature received) per alert published
        in `ticks` that delivers at least one feature and delivered all."""
        out = []
        for k, t in self.tick_of.items():
            exp = self.alerts[k]["expect"]
            if t in ticks and exp and all(f in self.received for f in exp):
                out.append(max(self.received[f][-1] for f in exp) - self.published[k])
        return out

    def throughput(self, ticks):
        """Alerts published in `ticks` per second, from the first scheduled
        publish to the receipt of the last feature of any of them."""
        keys = [k for k, t in self.tick_of.items() if t in ticks]
        ends = [self.received[f][-1] for k in keys for f in self.alerts[k]["expect"]
                if f in self.received]
        start = min(self.published[k] for k in keys)
        return len(keys) / (max(ends) - start)

    def backlog(self):
        return sum(1 for k in self.published
                   if any(f not in self.received for f in self.alerts[k]["expect"]))
