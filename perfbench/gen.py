"""Seeded input generator for the benchmark.

Writes the staged inputs a workload reads, in the reference's CSV
fixture format (`;`-delimited, header row, empty = NULL):

  users.csv     the 32-column user table (EtlSchema.userFields order)
  events.csv    the 17-column eventlog timeline (EtlSchema.eventFields)
  schedule.csv  record_id;due_ms;phase;cls  - when each event comes due
  mut_rows.csv  record_id;op;<32 user columns>  - the user-row mutation
                each event stands for (op: set, add or del; rows are
                keyed by ident_nr, the test database's primary key)
  manifest.json the count of every event class, and the file digests

The same seed gives byte-identical files. Nothing is read from outside
the output directory.

Event classes and the verdict the engine must give them:
  update    attribute change of a one-row user           -> S
  password  passwort change (the Aes path)               -> S
  rename    benutzername change, so the entry's cn moves -> S
  insert    a new user row, event_type 5                 -> S
  delete    the user's row removed, event_type 4         -> S
  dup_uid   change of one row of a uid that has several  -> W
  bad_type  event_type 7                                 -> F
  bad_key   table_key that is not pk_uniqueid=<number>   -> F
"""
import hashlib
import json
import os
import random
import time

USER_FIELDS = [
    "person_nr_obf", "st_person_nr_obf", "org_einheiten", "emailadresse_b",
    "emailadresse_st", "bpk", "pm_sap_personalnummer", "schulkennzahlen",
    "funktionen", "pk_uniqueid", "vorname", "nachname", "benutzername",
    "passwort", "benutzergruppen", "aktiv_st_person", "aktiv_a_person",
    "aktiv_b_person", "chipid_b", "chipid_st", "chipid_a", "mirfareid_b",
    "mirfareid_st", "mirfareid_a", "matrikelnummer", "account_status_b",
    "account_status_st", "account_status_a", "geburtsdatum", "person_nr",
    "st_person_nr", "ident_nr"]
EVENT_FIELDS = [
    "record_id", "table_key", "status", "event_type", "event_time",
    "perpetrator", "table_name", "column_name", "old_value", "new_value",
    "synch_id", "synch_online_flag", "transaction_flag", "read_time",
    "error_message", "attempt", "admin_notify_flag"]
CLASSES = ["update", "password", "rename", "insert", "delete", "dup_uid",
           "bad_type", "bad_key"]
IDX = {k: i for i, k in enumerate(USER_FIELDS)}

# Per-workload event mix (weights over CLASSES). No figure in the repo
# gives the production mix: BASELINE.md and SURVEY.md give the user
# count, the event rate floor and that duplicate uids occur, nothing
# more. These weights are this benchmark's assumptions, held only to
# "most events are attribute updates". bulk_sync leans harder on real
# changes (passwords, renames, inserts) so the merge does more work.
MIX = {
    "poll_prod": [60, 10, 8, 8, 6, 4, 2, 2],
    "bulk_sync": [50, 20, 10, 10, 6, 2, 1, 1],
}

FIRST = ["Anna", "Bernd", "Clara", "Dieter", "Eva", "Franz", "Greta",
         "Hans", "Ida", "Jörg", "Karin", "Lukas", "Maria", "Niklas", "Olga",
         "Paul", "Rita", "Stefan", "Tanja", "Uwe", "Vera", "Werner", "Zoë"]
LAST = ["Müller", "Gruber", "Huber", "Bauer", "Wagner", "Pichler", "Steiner",
        "Moser", "Mayer", "Hofer", "Leitner", "Berger", "Fuchs", "Eder",
        "Fischer", "Schmid", "Winkler", "Weber", "Schwarz", "Maier", "Groß"]
FUNKTIONEN = ["Lehrer", "Direktor", "Admin", "Sekretariat", "Schueler"]
GROUPS = ["ST", "B", "A", "A;ST", "B;ST"]
STATUS = ["OK", "OK", "OK", "GESPERRT"]
BASE_DAY = 1704067200  # 2024-01-01 00:00:00 UTC


def _ts(epoch):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch))


def _q(s):
    """A CSV cell; values holding the delimiter are quoted."""
    return '"' + s + '"' if ";" in s else s


def _num(n):
    return f"{float(n)!r}"


class _Users:
    """The user table as the generator tracks it, keyed by ident_nr."""

    def __init__(self, rnd):
        self.rnd = rnd
        self.rows = {}       # ident_nr -> row dict
        self.by_uid = {}     # uid -> [ident_nr]
        self.next_ident = 1
        self.next_uid = 100000
        self.cn_seq = 0

    def new_cn(self, uid):
        self.cn_seq += 1
        return f"u{uid}x{self.cn_seq}"

    def make_row(self, uid, ident):
        """A fresh row as its 32 CSV cells ("" is NULL)."""
        # one 640-bit draw per row, sliced into the fields: the bulk
        # table has hundreds of thousands of rows and set-up time counts
        x = self.rnd.getrandbits(640)

        def take(n):
            nonlocal x
            v = x % n
            x //= n
            return v
        first, last = FIRST[take(len(FIRST))], LAST[take(len(LAST))]
        group = GROUPS[take(len(GROUPS))]
        emp = "B" in group
        skz = str(100000 + take(900000))
        if take(2):
            skz += ";" + str(100000 + take(900000))
        fk = ";".join(sorted({FUNKTIONEN[take(5)], FUNKTIONEN[take(5)]}))
        return [
            "%016x" % take(1 << 64) if take(2) else "",
            "%016x" % take(1 << 64),
            f"OE{1 + take(400)}",
            f"{first}.{last}{uid}@schule.example".lower() if emp else "",
            f"s{uid}@student.example",
            "%028x" % take(1 << 112),
            str(10**7 + uid) if emp else "",
            _q(skz),
            _q(fk),
            _num(uid),
            first,
            last,
            self.new_cn(uid),
            "%010x" % take(1 << 40),
            _q(group),
            "JN"[take(2)],
            "JN"[take(2)],
            ("J", "N", "")[take(3)],
            "",
            str(10**15 + take(10**15)) if take(3) == 0 else "",
            "",
            "",
            "%08x" % take(1 << 32) if take(3) == 0 else "",
            "",
            str(10**7 + take(9 * 10**7)),
            STATUS[take(4)] if emp else "",
            STATUS[take(4)],
            "",
            _ts(BASE_DAY - (18 * 365 + take(52 * 365)) * 86400),
            _num(10**6 + take(9 * 10**6)),
            _num(uid),
            _num(ident),
        ]

    def add(self, uid):
        ident = self.next_ident
        self.next_ident += 1
        row = self.make_row(uid, ident)
        self.rows[ident] = row
        self.by_uid.setdefault(uid, []).append(ident)
        return ident, row


def _class_sequence(rnd, weights, n):
    """n event classes in the proportions of `weights` (largest
    remainder), in a seeded order. Every seed gets the same mix, so runs
    differ in which users and fields an event touches and in the order,
    not in how much of each kind of work there is."""
    exact = [w * n / sum(weights) for w in weights]
    counts = [int(x) for x in exact]
    by_rest = sorted(range(len(weights)), key=lambda i: counts[i] - exact[i])
    for i in by_rest[:n - sum(counts)]:
        counts[i] += 1
    seq = [c for c, k in zip(CLASSES, counts) for _ in range(k)]
    rnd.shuffle(seq)
    return seq


def _line(cells):
    return ";".join(cells) + "\n"


def _sha(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def stage(workload, seed, out_dir, n_users, n_events, rate=None,
          warm_events=0):
    """Write one workload's inputs; returns the manifest dict.

    `rate` (events/s) spaces the due times of the timed events (the
    open loop); without it every event is due at 0 (a pre-seeded
    backlog). The first `warm_events` events are the set-up warm-up.
    """
    rnd = random.Random(f"{workload}:{seed}")
    users = _Users(rnd)
    # ~1% of uids carry two rows under different cns: an assumed share
    # (SURVEY.md says only that duplicate uids occur)
    single, multi = [], []
    while len(users.rows) < n_users:
        uid = users.next_uid
        users.next_uid += 1
        users.add(uid)
        if rnd.random() < 0.01 and len(users.rows) < n_users:
            users.add(uid)
            multi.append(uid)
        else:
            single.append(uid)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "users.csv"), "w", encoding="utf-8") as f:
        f.write(";".join(USER_FIELDS) + "\n")
        for ident in sorted(users.rows):
            f.write(_line(users.rows[ident]))

    live = list(single)       # one-row uids events may touch
    live_pos = {u: i for i, u in enumerate(live)}
    counts = {c: 0 for c in CLASSES}
    weights = MIX[workload]
    # the warm-up events and the timed ones each carry the whole mix
    classes = _class_sequence(rnd, weights, warm_events) + \
        _class_sequence(rnd, weights, n_events - warm_events)
    ev = open(os.path.join(out_dir, "events.csv"), "w", encoding="utf-8")
    sch = open(os.path.join(out_dir, "schedule.csv"), "w", encoding="utf-8")
    mut = open(os.path.join(out_dir, "mut_rows.csv"), "w", encoding="utf-8")
    ev.write(";".join(EVENT_FIELDS) + "\n")
    sch.write("record_id;due_ms;phase;cls\n")
    mut.write("record_id;op;" + ";".join(USER_FIELDS) + "\n")

    def drop_live(uid):
        i = live_pos.pop(uid)
        last = live.pop()
        if last != uid:
            live[i] = last
            live_pos[last] = i

    for i in range(n_events):
        rid = 1000000 + i
        warm = i < warm_events
        due_ms = 0 if rate is None or warm else \
            int(round((i - warm_events) * 1000.0 / rate))
        cls = classes[i]
        if cls == "dup_uid" and not multi:
            cls = "update"
        etype, key, op, row = 6, None, None, None
        if cls in ("update", "password", "rename", "delete"):
            uid = rnd.choice(live)
            ident = users.by_uid[uid][0]
            row = list(users.rows[ident])
            if cls == "update":
                field = rnd.choice(["vorname", "nachname", "org_einheiten",
                                    "account_status_st", "funktionen",
                                    "matrikelnummer"])
                j = IDX[field]
                row[j] = users.make_row(uid, ident)[j]
                if row[j] == users.rows[ident][j]:
                    row[IDX["org_einheiten"]] = f"OE{rid}"
                op = "set"
            elif cls == "password":
                row[IDX["passwort"]] = "%010x" % rnd.getrandbits(40)
                op = "set"
            elif cls == "rename":
                row[IDX["benutzername"]] = users.new_cn(uid)
                op = "set"
            else:
                etype, op = 4, "del"
                del users.rows[ident]
                del users.by_uid[uid]
                drop_live(uid)
            if op == "set":
                users.rows[ident] = row
        elif cls == "insert":
            etype, op = 5, "add"
            uid = users.next_uid
            users.next_uid += 1
            ident, row = users.add(uid)
            live_pos[uid] = len(live)
            live.append(uid)
        elif cls == "dup_uid":
            uid = rnd.choice(multi)
            ident = users.by_uid[uid][rnd.randrange(2)]
            row = list(users.rows[ident])
            row[IDX["org_einheiten"]] = f"OE{rid}"
            users.rows[ident] = row
            op = "set"
        elif cls == "bad_type":
            uid = rnd.choice(live)
            etype = 7
        else:  # bad_key
            uid = rnd.choice(live)
            key = rnd.choice([f"uid={uid}", f"pk_uniqueid=x{uid}"])
        counts[cls] += 1
        key = key or f"pk_uniqueid={uid}"
        ev.write(_line([
            _num(rid), key, "N", _num(etype), _ts(BASE_DAY + due_ms // 1000),
            "WEB_CONNECT", "benutzer_alle_dirxml_v", "", "", "",
            _num(rid % 97), "N", "N", "", "", "", "N"]))
        sch.write(f"{rid};{due_ms};{'warm' if warm else 'timed'};{cls}\n")
        if op == "del":
            mut.write(_line([str(rid), op] + [""] * (len(USER_FIELDS) - 1) +
                            [_num(ident)]))
        elif op is not None:
            mut.write(_line([str(rid), op] + row))
    for f in (ev, sch, mut):
        f.close()

    files = ["users.csv", "events.csv", "schedule.csv", "mut_rows.csv"]
    manifest = {
        "workload": workload, "seed": seed, "users_rows": n_users,
        "uids_multi_row": len(multi), "events": n_events,
        "warm_events": warm_events, "rate_per_s": rate,
        "event_classes": counts,
        "sha256": {n: _sha(os.path.join(out_dir, n)) for n in files},
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


VOCAB = ["the", "fast", "key", "order", "sort", "table", "scan", "merge",
         "part", "window", "small", "hash", "join", "batch", "stream",
         "spark", "dup", "group", "query", "row", "data", "slow", "filter",
         "customer", "line", "value", "agg", "column", "a", "big", "vector"]


def stage_fleet(seed, out_dir, scale=1):
    """The ten star-schema tables the query registry reads, as parquet,
    with the row counts of the 0.001 scale factor times `scale` and the
    value domains the queries filter on. Returns the manifest dict.
    """
    import duckdb
    rnd = random.Random(f"fleet:{seed}")
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_events, n_docs = 1500 * scale, 1000 * scale, 500 * scale
    day = 86400
    d95, d01 = 788918400, 996624000  # 1995-01-01, 2001-08-01
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    tables = {
        "region": ("r_regionkey INTEGER, r_name VARCHAR", [
            (i, n) for i, n in enumerate(
                ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])]),
        "nation": ("n_nationkey INTEGER, n_name VARCHAR, n_regionkey INTEGER",
                   [(i, f"NATION_{i}", i % 5) for i in range(25)]),
        "customer": ("c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER, "
                     "c_acctbal DOUBLE, c_mktsegment VARCHAR", [
                         (i, f"Customer#{i:09d}", rnd.randrange(25),
                          round(rnd.uniform(-999.99, 9999.99), 2),
                          rnd.choice(segs)) for i in range(n_cust)]),
        "supplier": ("s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, "
                     "s_acctbal DOUBLE", [
                         (i, f"Supplier#{i:09d}", rnd.randrange(25),
                          round(rnd.uniform(-999.99, 9999.99), 2))
                         for i in range(n_supp)]),
        "part": ("p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR, "
                 "p_type VARCHAR, p_size INTEGER, p_retailprice DOUBLE", [
                     (i, rnd.choice(["blue", "old", "small", "new", "cold",
                                     "large", "hot", "red"]) + " " +
                      rnd.choice(["widget", "gizmo", "ring", "gear", "bolt",
                                  "rod", "anvil", "plate"]),
                      f"Brand#{rnd.randrange(1, 26)}",
                      rnd.choice(["ECONOMY", "LARGE", "STANDARD", "MEDIUM",
                                  "SMALL", "PROMO"]),
                      rnd.randrange(1, 51), round(900 + (i % 200) / 10, 2))
                     for i in range(n_part)]),
    }
    orders, lines = [], []
    for o in range(n_ord):
        od = d95 + rnd.randrange((d01 - d95) // day) * day
        orders.append((o, rnd.randrange(n_cust), rnd.choice("FOP"),
                       round(rnd.uniform(1000, 500000), 2), _ts(od),
                       rnd.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                   "4-NOT SPECIFIED", "5-LOW"])))
        for ln in range(1, rnd.randrange(1, 8) + 1):
            q = float(rnd.randrange(1, 51))
            lines.append((o, rnd.randrange(n_part), rnd.randrange(n_supp), ln,
                          q, round(q * rnd.uniform(900, 2100), 2),
                          rnd.randrange(11) / 100, rnd.randrange(9) / 100,
                          rnd.choice("NAR"), rnd.choice("OF"),
                          _ts(od + rnd.randrange(-60, 120) * day)))
    tables["orders"] = ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus "
                        "VARCHAR, o_totalprice DOUBLE, o_orderdate TIMESTAMP, "
                        "o_orderpriority VARCHAR", orders)
    tables["lineitem"] = ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey "
                          "BIGINT, l_linenumber INTEGER, l_quantity DOUBLE, "
                          "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax "
                          "DOUBLE, l_returnflag VARCHAR, l_linestatus VARCHAR, "
                          "l_shipdate TIMESTAMP", lines)
    t0 = BASE_DAY
    ts = sorted(t0 + rnd.randrange(30 * day * 1000) / 1000
                for _ in range(n_events))
    tables["events"] = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, "
        "value DOUBLE, props VARCHAR", [
            (i, _ts(int(t)) + ".%03d" % int(t * 1000 % 1000),
             rnd.randrange(max(1, n_cust // 10)),
             rnd.choice(["signup", "click", "error", "purchase", "view"]),
             round(rnd.uniform(0.01, 330), 2), '{"k": %d}' % rnd.randrange(100))
            for i, t in enumerate(ts)])
    docs = []
    for i in range(n_docs):
        if docs and rnd.random() < 0.2:  # near duplicate of an earlier doc
            words = docs[rnd.randrange(len(docs))][1].split()
            for _ in range(rnd.randrange(1, 4)):
                words[rnd.randrange(len(words))] = rnd.choice(VOCAB)
        else:
            words = [rnd.choice(VOCAB) for _ in range(rnd.randrange(8, 90))]
        text = " ".join(words)
        docs.append((i, text, rnd.choice(["en", "en", "de", "fr", "es", "zh"]),
                     f"src{rnd.randrange(20)}", len(text)))
    tables["documents"] = ("doc_id BIGINT, text VARCHAR, lang VARCHAR, "
                           "source VARCHAR, n_chars BIGINT", docs)
    centers = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    vecs = []
    for i in range(n_docs):
        label = rnd.randrange(10)
        v = [c + rnd.gauss(0, 0.6) for c in centers[label]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append((i, [x / norm for x in v], label))
    tables["embeddings"] = ("vec_id BIGINT, embedding FLOAT[], label INTEGER",
                            vecs)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=1")
    counts = {}
    for name, (ddl, rows) in tables.items():
        # bulk path: tab-separated text, cast to the typed schema on load
        tmp = os.path.join(out_dir, f"{name}.tsv")
        with open(tmp, "w", encoding="utf-8") as f:
            for r in rows:
                f.write("\t".join(
                    "[" + ",".join(map(repr, c)) + "]" if isinstance(c, list)
                    else str(c) for c in r) + "\n")
        cols = [c.strip().split(" ", 1) for c in ddl.split(",")]
        raw = ", ".join(f"'{c}': 'VARCHAR'" for c, _ in cols)
        typed = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in cols)
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(
            f"COPY (SELECT {typed} FROM read_csv('{tmp}', delim='\t', "
            f"header=false, quote='', escape='', columns={{{raw}}})) "
            f"TO '{path}' (FORMAT PARQUET)")
        os.remove(tmp)
        counts[name] = len(rows)
    con.close()
    manifest = {"workload": "fleet", "seed": seed, "rows": counts}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
