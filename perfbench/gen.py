"""Seeded input generators and expected-outcome manifests.

Each generator writes the files the program reads (and nothing the program
could use to learn what is expected), and returns a manifest of what a
correct run must produce. The same seed gives byte-identical inputs.

AFC: CSV files and xlsx workbooks in the three report layouts, a train-hours
dimension CSV and a Booking Payment history parquet. The manifest models
classification, the mandatory-null split, keep-last dedup (sort keys, then
input order), the loaded days, archival, and a content hash over a projection
of the kept rows that leaves out run-dependent columns.

Curation: a parquet corpus with planted exact duplicates, near duplicates
and documents the quality/language gate drops; the manifest lists the ids
that must survive.
"""

import datetime as dt
import functools
import hashlib
import os
import random
import zipfile

# Source headers, in order, per report (the exact ordered header is how the
# program classifies a sheet). Each entry: (source name, kind, mandatory),
# kind in {"s", "n", "t"}: string, numeric, timestamp.
TRAIN_LIST = [
    ("Departure Date", "t", 1), ("Train Number", "s", 1), ("OD", "s", 1),
    ("Origin Station", "s", 1), ("Destination Station", "s", 1),
    ("Coach Number", "s", 0), ("Seat Number", "s", 0), ("Class", "s", 1),
    ("Booking Code", "s", 1), ("Ticket Number", "s", 1), ("Tariff", "s", 1),
    ("Status", "s", 1), ("Payment Mode", "s", 0), ("Media Type", "s", 0),
    ("Sales Channel", "s", 0), ("Base Price", "s", 1), ("VAT Base Price", "n", 1),
    ("Management Fee", "n", 1), ("VAT Management Fee", "n", 1), ("Payment Fee", "n", 1),
    ("VAT Payment Fee", "n", 1), ("Operation Amount", "n", 1), ("Penalty Tariff", "n", 0),
    ("Amount Not Refunded", "n", 0), ("Compensation Type", "s", 0),
    ("Compensation Reason", "s", 0), ("Compensation Status", "s", 0),
    ("Nationality", "s", 0), ("Gender", "s", 0), ("Name", "s", 0), ("Surname", "s", 0),
    ("Document", "s", 0), ("Prefix", "s", 0), ("Telephone", "s", 0), ("Profile", "s", 0),
    ("Special Needs", "s", 0), ("Validation Time", "t", 0), ("Group", "s", 0),
    ("Checked On Board", "s", 0), ("Last Operation Channel", "s", 0),
    ("Last Operation Equipment Code", "s", 0),
]
OCCUPANCY = [
    ("Date", "t", 1), ("OD", "s", 1), ("Origin Station", "s", 0),
    ("Destination Station", "s", 0), ("Train ID", "s", 0), ("Train Number", "s", 1),
    ("Class", "s", 1), ("Total Seats (Quota + Carer + PRM)", "s", 0),
    ("Quota Configuration", "s", 1), ("Total Locks (Quota + Carer + PRM)", "s", 0),
    ("For Sale", "s", 0), ("Reserved Usual Seats", "s", 0), ("Reserved PRM Seats", "s", 0),
    ("Reserved Carer Seats", "s", 0), ("Ticket Reserved (Usual + Carer + PRM)", "s", 1),
    ("Reserved & Lock Usual Seats", "s", 0), ("Reserved & Lock PRM Seats", "s", 0),
    ("Reserved & Lock Carer Seats", "s", 0), ("Total Available", "s", 0),
    ("Validating", "s", 0), ("No Show", "s", 0), ("UnBooked", "s", 0),
    ("Passengers Inc. Infants", "s", 0), ("Checked On Board", "s", 0),
]
BOOKING_PAYMENT = [
    ("Booking Code", "s", 1), ("Ticket Number", "s", 1), ("Operation Date", "t", 1),
    ("Base Price", "n", 1), ("VAT Base Price", "n", 1), ("Management Fee", "n", 1),
    ("VAT Management Fee", "n", 1), ("Payment Fee", "n", 1), ("VAT Payment Fee", "n", 1),
    ("Operation Amount", "n", 1), ("Penalty Tariff", "n", 1), ("VAT Penalty", "n", 0),
    ("Compensation Type", "s", 0), ("Compensation Reason", "s", 0),
    ("Compensation Status", "s", 0), ("Card Number", "s", 0),
    ("Authorization Code", "s", 0), ("Order ID", "s", 0), ("Transaction ID", "s", 0),
    ("Status Payment Card", "s", 0), ("Card Brand", "s", 0), ("Bill Number", "s", 0),
    ("Bill Status", "s", 0), ("Train Number", "s", 1), ("Departure Date", "t", 1),
    ("Arrival Date", "t", 1), ("OD", "s", 1), ("Origin Station", "s", 1),
    ("Destination Station", "s", 1), ("Class", "s", 1), ("Tariff", "s", 1),
    ("Reserved Number of Seats", "s", 0), ("Status", "s", 1),
    ("Card Serial Number", "s", 0), ("Card User Name", "s", 0), ("Sales Station", "s", 0),
    ("Sales Channel", "s", 1), ("Sales Equipment Code", "s", 0), ("Payment Mode", "s", 1),
    ("Coach Number", "s", 0), ("Seat Number", "s", 0), ("Nationality", "s", 0),
    ("Name", "s", 0), ("Surname", "s", 0), ("Gender", "s", 0), ("Document Type", "s", 0),
    ("Document", "s", 0), ("Prefix", "s", 0), ("Telephone", "s", 0), ("Email", "s", 0),
    ("Profile", "s", 0), ("Validation Time", "s", 0), ("Checked On Board", "s", 0),
    ("Detail Type", "s", 0), ("Tipology", "s", 0), ("Last Operation Channel", "s", 0),
    ("Last Operation Equipment Code", "s", 0),
]

# Booking Payment numeric columns (name, mandatory), drawn per row.
BP_NUMERIC = [(n, m) for n, k, m in BOOKING_PAYMENT if k == "n"]
# Report display names as the program names its tables and side channels.
TL, OCC, BP = "Train List", "Occupancy", "Booking Payment Detailed"
LAYOUTS = {TL: TRAIN_LIST, OCC: OCCUPANCY, BP: BOOKING_PAYMENT}
# Classification order of report types inside one run (ReportType.all).
REPORT_ORDER = [TL, OCC, BP]
NULL = "\\N"

# Projection of kept rows that the content hash covers, per report, in
# output (database) column names. Run-dependent columns (Occupancy
# data_date = the run's current date) are left out. Doubles hash as
# round(x * 10000) so both sides format them identically.
HASH_COLS = {
    TL: [("ticket_number", "s"), ("departure_date", "s"), ("train_key", "s"),
         ("train_departure_date_short", "s"), ("service_train_departure_date_short", "s"),
         ("operation_date", "s"), ("vat_base_price", "d")],
    OCC: [("date", "s"), ("od", "s"), ("train_number", "s"), ("class", "s"),
          ("ticket_reserved", "s"), ("quota_configuration", "s"), ("train_key", "s")],
    BP: [("booking_code", "s"), ("ticket_number", "s"), ("operation_date_time", "s"),
         ("op_day", "s"), ("penalty_tariff", "d"), ("operation_amount", "d")],
}
# Target table directory and partition (day) column per report.
TABLES = {TL: ("train_list", "departure_date_short"), OCC: ("occupancy", "date"),
          BP: ("booking_payment_detailed", "op_day")}

STATIONS = ["MAD", "BCN", "VLC", "SVQ", "ZAZ", "MLG", "ALC", "CDZ"]
CLASSES = ["Turista", "Preferente", "Business"]
TARIFFS = ["Flexible", "Promo", "Basic"]
WORDS = ["lorem", "ipsum", "dolor", "amet", "sit"]

# Input sizes; they do not depend on the seed, which draws content only.
# The reference publishes no volumes. Its code carries a few operating
# constants (BASELINE.md), and the sizes come from them where they can:
# - every workbook sheet and the Train List and Occupancy exports hold
#   3,000 rows, one tier of its parallel Excel read (it split sheets into
#   tiers of at least 3,000 rows, BASELINE.md "Parallel-read tier size");
# - offset headers start within 3 rows, inside its 50-row header-sniff
#   window (BASELINE.md "Header-sniff window").
# Assumptions, with no source: the Booking Payment export holds 40,000
# rows, a tenth of the 400,000-row batch above which the reference loads
# in bulk (BASELINE.md "Constraint-removal threshold"), so that
# row-proportional work shows in wall_s next to the fixed cold cost; the
# defect rates in gen_afc.draw; 40 trains; a month of days with one gap;
# the curation corpus size and duplicate rates in gen_curation.
SIZES = {
    # one CSV export per report, then workbooks of 2-3 report sheets each;
    # the last workbook is corrupt and one carries an unclassifiable sheet
    "afc_nightly": {"csv_rows": {TL: 3000, OCC: 3000, BP: 40000}, "books": 3, "sheets": [3, 2],
                    "rows": 3000, "trains": 40, "gap_day": 14},
    "curation_batch": {"docs": 12000},
}


def _ts(d, secs):
    """d at midnight plus secs (under a day), as the reports write it."""
    return "%s %02d:%02d:%02d" % (_date(d), secs // 3600, secs // 60 % 60, secs % 60)


@functools.lru_cache(maxsize=None)
def _date(d):
    return d.strftime("%Y-%m-%d")


def _money(rng):
    return "%.2f" % (1 + int(rng.random() * 18000) / 100)


def _below(rng, n):
    """A uniform int in [0, n): cheaper than randint on hot paths."""
    return int(rng.random() * n)


class AfcModel:
    """Draws report rows and keeps the bookkeeping the manifest needs."""

    def __init__(self, rng, n_trains, day0, n_days, skip_day=None):
        self.rng = rng
        self.day0 = day0
        self.days = [d for d in range(n_days) if d != skip_day]
        self.trains = {}
        while len(self.trains) < n_trains:
            num = "%02d%02d" % (rng.randint(10, 99), rng.randint(0, 99))
            self.trains[num] = "%02d:%02d:00" % (rng.randint(0, 23), rng.randint(0, 11) * 5)
        self.train_nums = sorted(self.trains)
        self.history = {}  # ticket -> list of operation timestamps
        self.next_ticket = 0
        self.tails = {}

    def day(self):
        return self.day0 + dt.timedelta(days=self.rng.choice(self.days))

    def od(self):
        a, b = self.rng.sample(STATIONS, 2)
        return a, b, "%s-%s" % (a, b)

    def ticket(self):
        self.next_ticket += 1
        return "T%08d" % self.next_ticket

    def optional(self, layout, row):
        """Fills the non-mandatory cells from a small seeded pool of tails
        (drawing each cell afresh dominates generation time)."""
        key = id(layout)
        if key not in self.tails:
            self.tails[key] = [self._tail(layout) for _ in range(64)]
        tails = self.tails[key]
        out = dict(tails[_below(self.rng, len(tails))])
        out.update(row)
        return out

    def _tail(self, layout):
        rng = self.rng
        tail = {}
        for name, kind, mandatory in layout:
            if mandatory:
                continue
            if rng.random() < 0.5:
                tail[name] = None
            elif kind == "n":
                tail[name] = _money(rng)
            elif kind == "t":
                tail[name] = _ts(self.day(), _below(rng, 86400))
            else:
                tail[name] = "%s%d" % (rng.choice(WORDS), rng.randint(0, 999))
        return tail

    def train_list(self, ticket=None):
        rng = self.rng
        a, b, od = self.od()
        ticket = ticket or self.ticket()
        if ticket not in self.history and rng.random() < 0.6:
            base = dt.datetime(2024, 2, 1) + dt.timedelta(seconds=rng.randint(0, 86400 * 25))
            self.history[ticket] = [base + dt.timedelta(hours=h) for h in range(rng.randint(1, 3))]
        row = {
            "Departure Date": _ts(self.day(), _below(rng, 86400)),
            "Train Number": rng.choice(self.train_nums), "OD": od,
            "Origin Station": a, "Destination Station": b, "Class": rng.choice(CLASSES),
            "Booking Code": "B%06d" % _below(rng, 1000000), "Ticket Number": ticket,
            "Tariff": rng.choice(TARIFFS), "Status": rng.choice(["Issued", "Refunded"]),
            "Base Price": _money(rng),
        }
        for name, kind, mandatory in TRAIN_LIST:
            if kind == "n" and mandatory:
                row[name] = _money(rng)
        return self.optional(TRAIN_LIST, row)

    def occupancy(self, key=None):
        rng = self.rng
        if key is None:
            a, b, od = self.od()
            key = (_ts(self.day(), 0), od, rng.choice(self.train_nums), rng.choice(CLASSES))
        date, od, train, cls = key
        a, b = od.split("-")
        row = {"Date": date, "OD": od, "Origin Station": a, "Destination Station": b,
               "Train Number": train, "Class": cls,
               "Quota Configuration": "Q%d" % (1 + _below(rng, 9)),
               "Ticket Reserved (Usual + Carer + PRM)": str(_below(rng, 401))}
        return self.optional(OCCUPANCY, row)

    def booking_payment(self):
        rng = self.rng
        a, b, od = self.od()
        day = self.day()
        dep = _below(rng, 86400 - 4 * 3600)
        row = {
            "Booking Code": "B%06d" % _below(rng, 1000000), "Ticket Number": self.ticket(),
            "Operation Date": _ts(day, _below(rng, 86400)),
            "Train Number": rng.choice(self.train_nums),
            "Departure Date": _ts(day, dep), "Arrival Date": _ts(day, dep + 3 * 3600),
            "OD": od, "Origin Station": a, "Destination Station": b,
            "Class": rng.choice(CLASSES), "Tariff": rng.choice(TARIFFS), "Status": "Paid",
            "Sales Channel": rng.choice(["Web", "App", "Station"]),
            "Payment Mode": rng.choice(["Card", "Cash"]),
        }
        for name, mandatory in BP_NUMERIC:
            row[name] = _money(rng) if mandatory or rng.random() < 0.7 else None
        return self.optional(BOOKING_PAYMENT, row)

    def make(self, report):
        return {TL: self.train_list, OCC: self.occupancy, BP: self.booking_payment}[report]()

    def reject(self, report, row):
        """Plant a defect: blank one mandatory cell, so the row is rejected."""
        mandatory = [n for n, _, m in LAYOUTS[report] if m]
        row[self.rng.choice(mandatory)] = None
        return row


# ----------------------------------------------------------------- writers

def _col_letter(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _xml_escape(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_xlsx(path, sheets):
    """sheets: list of (name, rows); a row is a list of cells, each a
    string, None (cell omitted) or ("n", text) for a numeric cell."""
    shared, index = [], {}

    def sst(v):
        if v not in index:
            index[v] = len(shared)
            shared.append(v)
        return index[v]

    parts = []
    for si, (_, rows) in enumerate(sheets):
        out = ['<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns='
               '"http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>']
        for ri, cells in enumerate(rows):
            out.append('<row r="%d">' % (ri + 1))
            for ci, v in enumerate(cells):
                if v is None:
                    continue
                ref = "%s%d" % (_col_letter(ci), ri + 1)
                if isinstance(v, tuple):
                    out.append('<c r="%s"><v>%s</v></c>' % (ref, v[1]))
                else:
                    out.append('<c r="%s" t="s"><v>%d</v></c>' % (ref, sst(v)))
            out.append("</row>")
        out.append("</sheetData></worksheet>")
        parts.append(("xl/worksheets/sheet%d.xml" % (si + 1), "".join(out)))
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    wb = ['<?xml version="1.0" encoding="UTF-8"?><workbook %s %s><sheets>' % (ns, rel_ns)]
    rels = ['<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns='
            '"http://schemas.openxmlformats.org/package/2006/relationships">']
    for si, (name, _) in enumerate(sheets):
        wb.append('<sheet name="%s" sheetId="%d" r:id="rId%d"/>' % (name, si + 1, si + 1))
        rels.append('<Relationship Id="rId%d" Target="worksheets/sheet%d.xml"/>'
                    % (si + 1, si + 1))
    wb.append("</sheets></workbook>")
    rels.append("</Relationships>")
    sst_xml = ['<?xml version="1.0" encoding="UTF-8"?><sst %s count="%d" uniqueCount="%d">'
               % (ns, len(shared), len(shared))]
    sst_xml += ["<si><t>%s</t></si>" % _xml_escape(s) for s in shared]
    sst_xml.append("</sst>")
    entries = [("xl/workbook.xml", "".join(wb)), ("xl/_rels/workbook.xml.rels", "".join(rels)),
               ("xl/sharedStrings.xml", "".join(sst_xml))] + parts
    with zipfile.ZipFile(path, "w") as z:
        for name, body in entries:
            # a fixed entry time, so the same seed gives the same bytes
            z.writestr(zipfile.ZipInfo(name, date_time=(2024, 3, 1, 0, 0, 0)), body,
                       compress_type=zipfile.ZIP_DEFLATED)


def _cells(report, row):
    """A row as xlsx cells in layout order, numeric cells marked."""
    out = []
    for name, kind, _ in LAYOUTS[report]:
        v = row.get(name)
        out.append(("n", v) if kind == "n" and v is not None else v)
    return out


def write_csv(path, report, rows, offset):
    names = [n for n, _, _ in LAYOUTS[report]]
    with open(path, "w", encoding="utf-8", newline="") as f:
        if offset:
            f.write("Report export,generated nightly\n")
        f.write(",".join(names) + "\n")
        for row in rows:
            f.write(",".join([row.get(n) or "" for n in names]) + "\n")


def write_history_parquet(path, history):
    import pyarrow as pa
    import pyarrow.parquet as pq
    tickets, stamps = [], []
    for t in sorted(history):
        for ts in history[t]:
            tickets.append(t)
            stamps.append(ts.replace(tzinfo=dt.timezone.utc))
    table = pa.table({"ticket_number": pa.array(tickets, pa.string()),
                      "operation_date_time": pa.array(stamps, pa.timestamp("us", tz="UTC"))})
    pq.write_table(table, path)


# ------------------------------------------------------------ the model

def _parse_ts(s):
    return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


def _d4(s):
    return str(round(float(s) * 10000))


def _output_rows(report, row, model):
    """The hashed projection and the load day of one kept row."""
    if report == TL:
        dep = _parse_ts(row["Departure Date"])
        sched = dt.datetime.combine(dep.date(), dt.time.fromisoformat(model.trains[row["Train Number"]]))
        tdt = sched - dt.timedelta(days=1) if sched.time() > dep.time() else sched
        service = tdt.date() - dt.timedelta(days=1) if tdt.time() <= dt.time(5) else tdt.date()
        first = min(model.history[row["Ticket Number"]]) if row["Ticket Number"] in model.history else None
        short = dep.strftime("%Y-%m-%d")
        vals = [row["Ticket Number"], dep.strftime("%Y-%m-%d %H:%M"),
                "%s - %s - %s" % (short, row["Train Number"], row["OD"]),
                tdt.strftime("%Y-%m-%d"), service.isoformat(),
                first.strftime("%Y-%m-%d") if first else NULL, _d4(row["VAT Base Price"])]
        return vals, short
    if report == OCC:
        short = row["Date"][:10]
        vals = [short, row["OD"], row["Train Number"], row["Class"],
                row["Ticket Reserved (Usual + Carer + PRM)"], row["Quota Configuration"],
                "%s - %s - %s" % (short, row["Train Number"], row["OD"])]
        return vals, short
    op = row["Operation Date"][:16]
    vals = [row["Booking Code"], row["Ticket Number"], op, op[:10],
            str(round(float(row["Penalty Tariff"]) * 1.15 * 10000)), _d4(row["Operation Amount"])]
    return vals, op[:10]


def _sort_key(report, row):
    """Keep-last priority among duplicates, before input order."""
    if report == TL:
        return (row["Departure Date"][:16],)
    if report == OCC:
        return (row["Ticket Reserved (Usual + Carer + PRM)"], row["Quota Configuration"])
    return ()


def _dedup_key(report, row):
    if report == TL:
        return (row["Ticket Number"],)
    if report == OCC:
        return (row["Date"][:10], row["OD"], row["Train Number"], row["Class"])
    return None


def content_hash(lines):
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _expect(units, model):
    """units: ordered classified units as (report, [(row, rejected)])."""
    out = {}
    for report in REPORT_ORDER:
        mine = [rows for r, rows in units if r == report]
        if not mine:
            continue
        good, rejected = [], 0
        for ord_, rows in enumerate(mine):
            for row_ord, (row, bad) in enumerate(rows):
                if bad:
                    rejected += 1
                else:
                    good.append((_sort_key(report, row), ord_, row_ord, row))
        best = {}
        dups = 0
        for cand in good:
            k = _dedup_key(report, cand[3])
            if k is None:
                best[id(cand)] = cand
                continue
            if k in best:
                dups += 1
                if cand[:3] > best[k][:3]:
                    best[k] = cand
            else:
                best[k] = cand
        lines, days = [], set()
        for cand in best.values():
            vals, day = _output_rows(report, cand[3], model)
            lines.append("|".join(vals))
            days.add(day)
        ds = sorted(dt.date.fromisoformat(d) for d in days)
        gaps = sum(1 for a, b in zip(ds, ds[1:]) if (b - a).days > 1)
        out[report] = {"kept": len(best), "rejected": rejected, "duplicates": dups,
                       "days": len(days), "gaps": gaps, "hash": content_hash(lines)}
    return out


def gen_afc(workload, seed, root):
    """Writes inputs under root/{input,dim}; returns the expected manifest."""
    rng = random.Random("%s:%d" % (workload, seed))
    size = SIZES[workload]
    inp = os.path.join(root, "input")
    dim = os.path.join(root, "dim")
    os.makedirs(inp)
    os.makedirs(dim)
    model = AfcModel(rng, size["trains"], dt.datetime(2024, 3, 1), 30, skip_day=size["gap_day"])
    pool = {TL: [], OCC: []}  # earlier good rows, for cross-file duplicates

    def draw(report, n, reject_frac=0.03, dup_frac=0.06):
        rows = []
        seen = set()
        for _ in range(n):
            r = rng.random()
            if r < reject_frac:
                rows.append((model.reject(report, model.make(report)), True))
                continue
            row = None
            if report in pool and pool[report] and r < reject_frac + dup_frac:
                prev = rng.choice(pool[report])
                if _dedup_key(report, prev) not in seen:
                    row = (model.train_list(prev["Ticket Number"]) if report == TL
                           else model.occupancy(_dedup_key_occ(prev)))
            if row is None:
                row = model.make(report)
            k = _dedup_key(report, row)
            if k is not None and k in seen:  # never a duplicate inside one file
                row = model.make(report)
                k = _dedup_key(report, row)
            if k is not None:
                seen.add(k)
            rows.append((row, False))
        for row, bad in rows:
            if not bad and report in pool:
                pool[report].append(row)
        return rows

    csv_units, xlsx_units = [], []  # (path, [(report or None, rows)])
    files_in, failed = [], []
    input_rows = 0
    for report in REPORT_ORDER:
        rows = draw(report, size["csv_rows"][report])
        path = os.path.join(inp, "%s_export.csv" % report.split()[0].lower())
        write_csv(path, report, [r for r, _ in rows], offset=(report == TL))
        csv_units.append((path, [(report, rows)]))
        input_rows += len(rows)
    bad_sheet_book = rng.randrange(size["books"] - 1)
    for b in range(size["books"]):
        path = os.path.join(inp, "report_%03d.xlsx" % b)
        files_in.append(path)
        if b == size["books"] - 1:  # the corrupt workbook
            with open(path, "wb") as f:
                f.write(bytes(rng.getrandbits(8) for _ in range(4096)))
            failed.append(path)
            continue
        sheets, units = [], []
        for s in range(size["sheets"][b]):
            report = REPORT_ORDER[(b + s) % 3]
            rows = draw(report, size["rows"])
            header = [n for n, _, _ in LAYOUTS[report]]
            body = [_cells(report, r) for r, _ in rows]
            lead = [["Report export"], [None], ["generated nightly", "by AFC"]] if s == 1 else []
            sheets.append(("Sheet%d" % (s + 1), lead + [header] + body))
            units.append((report, rows))
            input_rows += len(rows)
        if b == bad_sheet_book:  # one unclassifiable sheet: the book stays
            sheets.append(("Notes", [["free text notes"], ["nothing", "to", "load"]]))
            units.append((None, []))
            failed.append(path)
        write_xlsx(path, sheets)
        xlsx_units.append((path, units))
    files_in = [p for p, _ in csv_units] + files_in
    classified = [(r, rows) for _, us in csv_units + xlsx_units for r, rows in us if r]

    with open(os.path.join(dim, "train_hours.csv"), "w") as f:
        f.write("train_number,departure_time\n")
        for t in model.train_nums:
            f.write("%s,%s\n" % (t, model.trains[t]))
    write_history_parquet(os.path.join(dim, "history.parquet"), model.history)

    expected = _expect(classified, model)
    names = lambda ps: sorted(os.path.basename(p) for p in ps)
    return {
        "reports": expected,
        "archived": names(p for p in files_in if p not in failed),
        "remaining": names(failed),
        "units": len(classified) + len(failed),
        "input_rows": input_rows,
        "input_bytes": sum(os.path.getsize(p) for p in files_in),
    }


def _dedup_key_occ(prev):
    return (prev["Date"], prev["OD"], prev["Train Number"], prev["Class"])


# --------------------------------------------------------------- curation

EN_STOP = ["the", "and", "of", "to", "in", "is", "a", "that", "for", "on"]
FR_STOP = ["le", "la", "les", "et", "de", "des", "un", "une", "du", "en"]


def gen_curation(seed, root):
    """A corpus of distinct English documents plus planted exact copies,
    near copies (last word changed) and documents the quality gate drops
    (too short, or French). Returns the ids a run keeps when every planted
    near copy is found, and the ids of near-copy clusters."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random("curation:%d" % seed)
    n = SIZES["curation_batch"]["docs"]
    vocab = ["w%05d" % i for i in range(20000)]
    docs = []  # (cluster, text)
    cluster = 0
    while len(docs) < n:
        words = [rng.choice(vocab) if rng.random() < 0.8 else rng.choice(EN_STOP)
                 for _ in range(rng.randint(50, 80))]
        words[1] = rng.choice(EN_STOP)  # the quality gate needs a stopword
        text = " ".join(words)
        r = rng.random()
        if r < 0.03:  # too short for the quality gate
            docs.append((None, " ".join(words[:3])))
            continue
        if r < 0.05:  # French: the language gate drops it
            docs.append((None, " ".join(rng.choice(FR_STOP) if i % 4 == 0 else rng.choice(vocab)
                                        for i in range(len(words)))))
            continue
        docs.append((cluster, text))
        if r < 0.15:  # exact copies
            for _ in range(rng.randint(1, 2)):
                docs.append((cluster, text))
        elif r < 0.25:  # near copies: the last word differs
            for _ in range(rng.randint(1, 2)):
                docs.append((cluster, " ".join(words[:-1] + [rng.choice(vocab)])))
        cluster += 1
    docs = docs[:n]
    ids = rng.sample(range(1, 50 * n), len(docs))
    keep, near = {}, {}
    for i, (c, text) in zip(ids, docs):
        if c is not None:
            keep[c] = min(keep.get(c, i), i)
            near.setdefault(c, set()).add(text)
    # clusters whose members differ in text: only MinHash-LSH links them
    near_ids = [i for i, (c, _) in zip(ids, docs) if c is not None and len(near[c]) > 1]
    os.makedirs(root)
    table = pa.table({"id": pa.array(ids, pa.int64()),
                      "text": pa.array([t for _, t in docs], pa.string())})
    pq.write_table(table, os.path.join(root, "corpus.parquet"), row_group_size=4096)
    return {"kept_ids": sorted(keep.values()), "near_ids": sorted(near_ids), "docs": len(docs),
            "input_bytes": os.path.getsize(os.path.join(root, "corpus.parquet"))}

