"""Seeded input generator for the stream_gmall workload.

Produces the raw behaviour-log and Maxwell-style CDC envelopes of
FIXTURES.md sections 1-2 on a fixed schedule, plus the ground truth the
served tables must equal once every event has been processed.

Time model: events are scheduled in ticks of TICK_MS wall milliseconds. An
on-time event's event time is EPOCH + due * SIM_X, so event time advances
SIM_X times faster than wall time and watermarks evict state during a run.
Late arrivals (an order's info after its details, a detail after its info)
keep their own event time and are due later than it maps to.

After `run_ms` the schedule continues for `burst_ms` at `burst_x` times
the rates; everything due at or after `run_ms` is delivered at once, as one
backlog, at `run_ms`. Its event times stay within a few sim hours, so no
part of it falls behind the watermark of another.

The mix constants below (event shares, skew, counts, arrival offsets) are
partly fixed by FIXTURES.md and partly assumptions; perfbench/README.md,
"Traffic mix", gives the source of each.
"""
import json
import datetime as dt

import numpy as np

TICK_MS = 100
SIM_X = 21_600                      # sim seconds per wall second: 6 h / s
EPOCH_MS = 1_704_067_200_000        # 2024-01-01T00:00:00Z
HOUR_MS = 3_600_000
N_PROVINCES = 34
N_USERS = 3000
N_MIDS = 4000
ZIPF_A = 1.2
PAGES = ["home", "good_list", "good_detail", "cart", "trade", "payment", "mine"]
SKUS = ["widget", "bolt", "gear", "anvil", "ring", "rod", "plate", "gizmo"]
# order arrival scenarios (FIXTURES.md section 5) and their shares
SCENARIOS = [("normal", 0.70), ("detail_first", 0.10), ("info_first", 0.10),
             ("late_detail", 0.05), ("beyond_bound", 0.05)]


def sim_ms(due_ms):
    """Event time (epoch ms) of an event due `due_ms` after the start."""
    return EPOCH_MS + due_ms * SIM_X


def due_of(event_ms):
    """Wall offset (ms) at which an event of this event time is on time."""
    return (event_ms - EPOCH_MS) / SIM_X


def _ct(event_ms):
    return dt.datetime.fromtimestamp(event_ms // 1000, dt.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")


def _day(event_ms):
    return dt.datetime.fromtimestamp(event_ms // 1000, dt.timezone.utc) \
        .strftime("%Y-%m-%d")


def _dumps(o):
    return json.dumps(o, separators=(",", ":"), sort_keys=True)


class Generator:
    def __init__(self, seed, log_rate, order_rate, run_ms, burst_ms, burst_x):
        """`log_rate` logs/s and `order_rate` orders/s for `run_ms` wall ms,
        then `burst_x` times those rates for `burst_ms`."""
        self.rng = np.random.default_rng(seed)
        self.log_rate, self.order_rate = log_rate, order_rate
        self.run_ms, self.burst_ms, self.burst_x = run_ms, burst_ms, burst_x
        ranks = np.arange(1, N_MIDS + 1, dtype=float)
        p = ranks ** -ZIPF_A
        self.mid_p = p / p.sum()
        self.log, self.cdc = [], []      # (due_ms, json)
        self.next_detail = 0

    def _per_tick(self, rate, tick):
        # fixed schedule: the integer part of rate * elapsed in the phase
        t0, t1 = tick * TICK_MS, (tick + 1) * TICK_MS
        if t0 >= self.run_ms:
            rate, t0, t1 = rate * self.burst_x, t0 - self.run_ms, t1 - self.run_ms
        return int(rate * t1 / 1000) - int(rate * t0 / 1000)

    def _dims(self):
        for pid in range(1, N_PROVINCES + 1):
            self.cdc.append((0, _dumps({
                "database": "gmall", "table": "base_province",
                "type": "bootstrap-insert", "ts": EPOCH_MS // 1000,
                "data": {"id": pid, "name": f"P{pid}", "iso_code": f"ISO-{pid}",
                         "iso_3166_2": f"CN-{pid}", "area_code": str(100 + pid)}})))
        for uid in range(1, N_USERS + 1):
            self.cdc.append((0, _dumps({
                "database": "gmall", "table": "user_info",
                "type": "bootstrap-insert", "ts": EPOCH_MS // 1000,
                "data": {"id": uid, "gender": "FM"[uid % 2],
                         "birthday": f"{1960 + uid % 45}-0{1 + uid % 9}-1{uid % 10}"}})))

    def _log(self, due):
        rng = self.rng
        ts = sim_ms(due)
        mid = int(rng.choice(N_MIDS, p=self.mid_p))
        common = {"ar": str(int(rng.integers(1, N_PROVINCES + 1))),
                  "uid": str(1 + mid % N_USERS), "os": "Android 11",
                  "ch": "xiaomi", "is_new": "0", "md": "Xiaomi 9",
                  "mid": f"mid_{mid}", "vc": "v2.1.134", "ba": "Xiaomi"}
        rec = {"common": common, "ts": ts}
        kind = "page"
        u = rng.random()
        if u < 0.05:
            rec["err"] = {"error_code": int(rng.integers(1000, 4000)), "msg": "boom"}
            kind = "error"
            if rng.random() < 0.5:
                rec["page"] = {"page_id": "home", "during_time": 100}
        elif u < 0.15:
            rec["start"] = {"entry": "icon", "open_ad_id": "5",
                            "loading_time": int(rng.integers(100, 9000)),
                            "open_ad_ms": 283, "open_ad_skip_ms": 0}
            kind = "start"
        else:
            page = {"page_id": PAGES[int(rng.integers(0, len(PAGES)))],
                    "during_time": int(rng.integers(100, 20000))}
            entry = rng.random() < 0.35
            if not entry:
                page["last_page_id"] = PAGES[int(rng.integers(0, len(PAGES)))]
            rec["page"] = page
            if rng.random() < 0.5:
                rec["displays"] = [
                    {"display_type": "promotion", "item": str(int(rng.integers(1, 99))),
                     "item_type": "sku_id", "pos_id": str(k), "order": str(k)}
                    for k in range(int(rng.integers(1, 4)))]
            if rng.random() < 0.3:
                rec["actions"] = [{"action_id": "cart_add",
                                   "item": str(int(rng.integers(1, 99))),
                                   "item_type": "sku_id", "ts": ts}]
            kind = "entry" if entry else "page"
        self.log.append((due, _dumps(rec)))
        return kind, mid, ts

    def _order(self, due, oid):
        rng = self.rng
        u, acc = rng.random(), 0.0
        for scenario, share in SCENARIOS:
            acc += share
            if u < acc:
                break
        info_ts = sim_ms(due)
        info_due = due
        n = int(rng.integers(1, 4))
        details = []
        for _ in range(n):
            did = self.next_detail
            self.next_detail += 1
            if scenario == "normal":
                d_ts = info_ts + int(rng.integers(0, 2 * HOUR_MS))
                d_due = due_of(d_ts)
            elif scenario == "detail_first":
                d_ts = info_ts + HOUR_MS // 2
                d_due = due_of(d_ts)
            elif scenario == "info_first":
                d_ts = info_ts + int(rng.integers(6 * HOUR_MS, 12 * HOUR_MS))
                d_due = due_of(d_ts)
            elif scenario == "late_detail":
                d_ts = info_ts + HOUR_MS
                d_due = due_of(d_ts + int(rng.integers(3 * HOUR_MS, 6 * HOUR_MS)))
            else:  # beyond_bound: outside the 24 h join bound, never joins
                d_ts = info_ts + int(rng.integers(30 * HOUR_MS, 36 * HOUR_MS))
                d_due = due_of(d_ts)
            # on-time details (readable in the batch they enter) get even
            # ids: the stage-2 freshness observation selects them by parity
            on_time = scenario in ("normal", "info_first")
            did = 2 * did if on_time else 2 * did + 1
            amount = round(float(rng.integers(100, 100000)) / 100.0, 2)
            details.append((did, d_ts, d_due, amount, scenario != "beyond_bound"))
        if scenario == "detail_first":
            info_due = due_of(info_ts + HOUR_MS // 2 +
                              int(rng.integers(2 * HOUR_MS, 6 * HOUR_MS)))
        total = round(sum(d[3] for d in details), 2)
        self.cdc.append((info_due, _dumps({
            "database": "gmall", "table": "order_info", "type": "insert",
            "ts": info_ts // 1000,
            "data": {"id": oid, "province_id": 1 + oid % N_PROVINCES,
                     "order_status": "1001", "user_id": 1 + oid % N_USERS,
                     "total_amount": total, "create_time": _ct(info_ts)}})))
        for did, d_ts, d_due, amount, joins in details:
            self.cdc.append((d_due, _dumps({
                "database": "gmall", "table": "order_detail", "type": "insert",
                "ts": d_ts // 1000,
                "data": {"id": did, "order_id": oid, "sku_id": did % 97,
                         "order_price": amount, "sku_num": 1,
                         "sku_name": SKUS[did % len(SKUS)],
                         "create_time": _ct(d_ts), "split_total_amount": amount}})))
        return scenario, [(d[0], d[3]) for d in details if d[4]]

    def generate(self):
        truth = {"errors": 0, "dau": set(), "ow_rows": 0, "ow_amount": 0.0,
                 "scenarios": {s: 0 for s, _ in SCENARIOS}, "entries": 0,
                 "entry_dups": 0}
        self._dims()
        oid = 0
        total_ms = self.run_ms + self.burst_ms
        for tick in range((total_ms + TICK_MS - 1) // TICK_MS):
            due = tick * TICK_MS
            for _ in range(self._per_tick(self.log_rate, tick)):
                kind, mid, ts = self._log(due)
                if kind == "error":
                    truth["errors"] += 1
                elif kind == "entry":
                    key = (mid, _day(ts))
                    truth["entries"] += 1
                    truth["entry_dups"] += key in truth["dau"]
                    truth["dau"].add(key)
            for _ in range(self._per_tick(self.order_rate, tick)):
                scenario, joined = self._order(due, oid)
                oid += 1
                truth["scenarios"][scenario] += 1
                truth["ow_rows"] += len(joined)
                truth["ow_amount"] += sum(a for _, a in joined)
        # everything due at or after the burst time is the backlog
        log = sorted(((min(d, self.run_ms), j) for d, j in self.log), key=lambda x: x[0])
        cdc = sorted(((min(d, self.run_ms), j) for d, j in self.cdc), key=lambda x: x[0])
        truth["dau_rows"] = len(truth.pop("dau"))
        truth["ow_amount"] = round(truth["ow_amount"], 2)
        truth["log_events"], truth["cdc_events"] = len(log), len(cdc)
        truth["burst_events"] = sum(1 for d, _ in log + cdc if d >= self.run_ms)
        return log, cdc, truth


def write(out_dir, seed, log_rate, order_rate, run_ms, burst_ms, burst_x):
    """Writes log.tsv and cdc.tsv (`due_ms<TAB>json`, due order) and returns
    the ground truth."""
    log, cdc, truth = Generator(seed, log_rate, order_rate, run_ms, burst_ms,
                                burst_x).generate()
    for name, rows in (("log", log), ("cdc", cdc)):
        with open(f"{out_dir}/{name}.tsv", "w") as f:
            for d, j in rows:
                f.write(f"{int(d)}\t{j}\n")
    return truth
