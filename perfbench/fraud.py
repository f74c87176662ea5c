"""fraud_daily inputs and their independent check.

`generate` writes, from a seed, the dimensions and one `;`-CSV drop per day
in the layout `FraudEtlPipeline.runDaily` consumes:

    <out>/clients.parquet, <out>/accounts.parquet
    <out>/day_NN/transactions_DDMMYYYY.txt
    <out>/day_NN/passport_blacklist_DDMMYYYY.csv
    <out>/day_NN/terminals_DDMMYYYY.csv

About 1% of clients carry an expired passport or account, a few are
blacklisted each day, and each day plants city hops (two cities within
60 min) and amount-guessing runs (three decreasing REJECTs, then a lower
SUCCESS, within 20 min). The terminal snapshot churns every day: new,
changed and deleted terminals.

`check_day` recomputes a day's REP_FRAUD rows with DuckDB over the same
files, without graft, and compares them with the rows graft published;
it also checks that graft's SCD2 current view equals the day's snapshot.
"""
import datetime as dt
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

START = dt.date(2021, 3, 1)
CITIES = [f"City{i:02d}" for i in range(40)]
OP_TYPES = np.array(["PAYMENT", "WITHDRAW", "DEPOSIT"])


def batch_id(day):
    return day.strftime("%d%m%Y")


def _dims(rng, n_clients, out):
    days = lambda a, b, n: np.array(  # noqa: E731 - tiny local helper
        [START + dt.timedelta(days=int(x)) for x in rng.integers(a, b, n)])
    valid_to = days(1500, 3500, n_clients)
    expired = rng.random(n_clients) < 0.01
    valid_to[expired] = days(-400, 0, expired.sum())
    keys = np.arange(n_clients)
    pq.write_table(pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "fio": [f"CLIENT {k}" for k in keys],
        "passport_num": [f"{k % 10000:04d} {k:06d}" for k in keys],
        "phone": [f"+7{k:010d}" for k in keys],
        "segment": rng.choice(["MASS", "STD", "VIP"], n_clients, p=[0.7, 0.25, 0.05]),
        "passport_valid_to": pa.array(valid_to, pa.date32())}),
        os.path.join(out, "clients.parquet"))
    # one account per client plus a few accounts whose client is unknown
    orphans = np.arange(n_clients, n_clients + 20)
    acc_client = np.concatenate([keys, orphans])
    acc_valid = days(1000, 3000, len(acc_client))
    closed = rng.random(len(acc_client)) < 0.01
    closed[n_clients:] = True
    acc_valid[closed] = days(-400, 0, closed.sum())
    pq.write_table(pa.table({
        "client": pa.array(acc_client, pa.int64()),
        "valid_to": pa.array(acc_valid, pa.date32())}),
        os.path.join(out, "accounts.parquet"))
    return orphans


def _churn(rng, terms, next_id):
    """One day's terminal snapshot: ~1% changed, ~0.5% deleted, ~0.5% new."""
    terms = terms.copy()
    n = len(terms)
    changed = rng.random(n) < 0.01
    terms.loc[changed, "terminal_city"] = rng.choice(CITIES, changed.sum())
    terms.loc[changed, "terminal_address"] = [f"Street {x}" for x in rng.integers(0, 10**6, changed.sum())]
    terms = terms[rng.random(n) >= 0.005]
    k = max(1, n // 200)
    new = pd.DataFrame({
        "terminal_id": [f"T{i:06d}" for i in range(next_id, next_id + k)],
        "terminal_type": rng.choice(["ATM", "POS"], k),
        "terminal_city": rng.choice(CITIES, k),
        "terminal_address": [f"Street {x}" for x in rng.integers(0, 10**6, k)]})
    return pd.concat([terms, new], ignore_index=True), next_id + k


def _day_txns(rng, day_no, n_txn, n_clients, orphans, home, terms):
    day0 = np.datetime64(START, "s") + np.timedelta64(day_no, "D")
    by_city = {c: g.terminal_id.to_numpy() for c, g in terms.groupby("terminal_city")}

    def local_terminal(cities):
        out = np.empty(len(cities), dtype=object)
        for c in np.unique(cities):
            at = np.flatnonzero(cities == c)
            pool = by_city.get(c, terms.terminal_id.to_numpy())
            out[at] = pool[rng.integers(0, len(pool), len(at))]
        return out

    # legit activity: home-city terminals, mostly successful
    cards = rng.integers(0, n_clients, n_txn)
    cards[rng.random(n_txn) < 0.001] = rng.choice(orphans)
    secs = rng.integers(0, 86400 - 3600, n_txn)
    amount = rng.integers(100, 500_000, n_txn)
    op = rng.choice(OP_TYPES, n_txn, p=[0.5, 0.3, 0.2])
    res = np.where(rng.random(n_txn) < 0.97, "SUCCESS", "REJECT")
    city = home[cards % n_clients]
    parts = [pd.DataFrame({"card": cards, "sec": secs, "amount": amount, "op": op,
                           "res": res, "city": city})]

    # planted city hops: a second city 5..55 minutes after a home-city txn
    k = max(1, n_clients // 200)
    hop = rng.choice(n_clients, k, replace=False)
    t = rng.integers(0, 86400 - 3600, k)
    other = np.array([rng.choice([c for c in CITIES[:5] if c != home[c_]]) for c_ in hop])
    for when, where in ((t, home[hop]), (t + rng.integers(300, 3300, k), other)):
        parts.append(pd.DataFrame({"card": hop, "sec": when, "amount": rng.integers(100, 50_000, k),
                                   "op": "PAYMENT", "res": "SUCCESS", "city": where}))

    # planted amount guessing: 3 decreasing REJECTs then a lower SUCCESS
    g = rng.choice(n_clients, max(1, n_clients // 500), replace=False)
    t = rng.integers(0, 86400 - 3600, len(g))
    a = rng.integers(200_000, 400_000, len(g))
    kind = rng.choice(["PAYMENT", "WITHDRAW"], len(g))
    for step in range(4):
        parts.append(pd.DataFrame({
            "card": g, "sec": t + step * rng.integers(60, 240, len(g)),
            "amount": a - step * rng.integers(10_000, 40_000, len(g)), "op": kind,
            "res": "SUCCESS" if step == 3 else "REJECT", "city": home[g]}))

    df = pd.concat(parts, ignore_index=True)
    # one event per (card, second): the rules order events by time per card
    df = df.drop_duplicates(["card", "sec"], keep="last").reset_index(drop=True)
    df["terminal"] = local_terminal(df.city.to_numpy())
    df = df.sort_values("sec", kind="stable").reset_index(drop=True)
    ts = (day0 + df.sec.to_numpy().astype("timedelta64[s]")).astype(str)
    return pd.DataFrame({
        "transaction_id": day_no * 10**8 + np.arange(len(df)),
        "transaction_date": np.char.replace(ts.astype("U19"), "T", " "),
        "amount": df.amount.to_numpy() / 100.0,
        "card_num": df.card,
        "oper_type": df.op,
        "oper_result": df.res,
        "terminal": df.terminal})


def _write_day(out, day, txns, terms, blacklist):
    os.makedirs(out, exist_ok=True)
    bid = batch_id(day)
    with open(os.path.join(out, f"transactions_{bid}.txt"), "wb") as f:
        f.write((";".join(txns.columns) + "\n").encode())
        pacsv.write_csv(pa.Table.from_pandas(txns, preserve_index=False), f,
                        pacsv.WriteOptions(include_header=False, delimiter=";",
                                           quoting_style="none"))
    terms.to_csv(os.path.join(out, f"terminals_{bid}.csv"), sep=";", index=False)
    pd.DataFrame({"date": day.isoformat(), "passport": blacklist}).to_csv(
        os.path.join(out, f"passport_blacklist_{bid}.csv"), sep=";", index=False)


def generate(out, seed, days, txns_per_day, n_clients=20_000, n_terminals=2_000):
    """Writes the dims and `days` daily drops; returns the transaction rows
    of each day."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    orphans = _dims(rng, n_clients, out)
    home = rng.choice(CITIES, n_clients)
    terms = pd.DataFrame({
        "terminal_id": [f"T{i:06d}" for i in range(n_terminals)],
        "terminal_type": rng.choice(["ATM", "POS"], n_terminals),
        "terminal_city": rng.choice(CITIES, n_terminals),
        "terminal_address": [f"Street {x}" for x in rng.integers(0, 10**6, n_terminals)]})
    next_id = n_terminals
    rows = []
    for d in range(days):
        if d:
            terms, next_id = _churn(rng, terms, next_id)
        txns = _day_txns(rng, d, txns_per_day, n_clients, orphans, home, terms)
        blacklist = rng.choice(n_clients, max(1, n_clients // 2000), replace=False)
        _write_day(os.path.join(out, f"day_{d:02d}"), START + dt.timedelta(days=d),
                   txns, terms, blacklist)
        rows.append(len(txns))
    return rows


RULES_SQL = """
WITH term AS (SELECT * FROM read_csv('{terms}', delim=';', header=true, all_varchar=true)),
txn AS (SELECT * FROM read_csv('{txns}', delim=';', header=true, columns={{
    'transaction_id': 'BIGINT', 'transaction_date': 'TIMESTAMP', 'amount': 'DOUBLE',
    'card_num': 'BIGINT', 'oper_type': 'VARCHAR', 'oper_result': 'VARCHAR',
    'terminal': 'VARCHAR'}})),
bl AS (SELECT passport FROM read_csv('{blacklist}', delim=';', header=true, columns={{
    'date': 'VARCHAR', 'passport': 'BIGINT'}})),
rt AS (
  SELECT card_num AS user_id, epoch_us(transaction_date) AS ts_us,
         CAST(round(amount * 100) AS BIGINT) AS amt_cents, oper_type, oper_result,
         term.terminal_city AS city
  FROM txn LEFT JOIN term ON txn.terminal = term.terminal_id),
bad_passport AS (
  SELECT * FROM clients WHERE DATE '{date}' > passport_valid_to
  UNION SELECT * FROM clients WHERE c_custkey IN (SELECT passport FROM bl)),
bad_account AS (
  SELECT a.client, c.* FROM accounts a LEFT JOIN clients c ON a.client = c.c_custkey
  WHERE DATE '{date}' > a.valid_to),
cities AS (SELECT user_id, count(DISTINCT city) AS n FROM rt GROUP BY user_id),
hops AS (
  SELECT user_id, ts_us, city,
         lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS lead_us,
         lead(city) OVER (PARTITION BY user_id ORDER BY ts_us) AS lead_city
  FROM rt),
city_hit AS (
  SELECT h.user_id, max(h.ts_us) AS ts_us FROM hops h JOIN cities c USING (user_id)
  WHERE c.n > 1 AND h.city <> h.lead_city AND h.lead_us >= h.ts_us
    AND (h.lead_us - h.ts_us) // 60000000 <= 60
  GROUP BY h.user_id),
guesses AS (
  SELECT user_id, ts_us, amt_cents, oper_result,
         lag(amt_cents, 1) OVER w AS a1, lag(amt_cents, 2) OVER w AS a2,
         lag(amt_cents, 3) OVER w AS a3, lag(oper_result, 1) OVER w AS r1,
         lag(oper_result, 2) OVER w AS r2, lag(oper_result, 3) OVER w AS r3,
         lag(ts_us, 3) OVER w AS t3
  FROM rt WHERE oper_type IN ('PAYMENT', 'WITHDRAW')
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
guess_hit AS (
  SELECT user_id, ts_us FROM guesses
  WHERE oper_result = 'SUCCESS' AND r1 = 'REJECT' AND r2 = 'REJECT' AND r3 = 'REJECT'
    AND a3 > a2 AND a2 > a1 AND a1 > amt_cents AND (ts_us - t3) // 60000000 <= 20)
SELECT rt.ts_us, b.c_custkey, b.passport_num, b.fio, b.phone, b.segment, 'passport_fraud'
FROM rt JOIN bad_passport b ON rt.user_id = b.c_custkey
UNION ALL
SELECT rt.ts_us, b.client, b.passport_num, b.fio, b.phone, b.segment, 'account_fraud'
FROM rt JOIN bad_account b ON rt.user_id = b.client
UNION ALL
SELECT h.ts_us, h.user_id, c.passport_num, c.fio, c.phone, c.segment, 'city_fraud'
FROM city_hit h LEFT JOIN clients c ON h.user_id = c.c_custkey
UNION ALL
SELECT g.ts_us, g.user_id, c.passport_num, c.fio, c.phone, c.segment, 'guessing_amount_fraud'
FROM guess_hit g LEFT JOIN clients c ON g.user_id = c.c_custkey
"""


def _read_tsv(path):
    with open(path) as f:
        return [tuple(line.rstrip("\n").split("\t")) for line in f if line.strip()]


def _cell(v):
    return "\\N" if v is None else str(v)


def check_day(con, drops, day_no, mart_tsv, terms_tsv):
    """Returns a list of problems with graft's outputs for one day (empty
    when they match the independent computation)."""
    day = START + dt.timedelta(days=day_no)
    src = os.path.join(drops, f"day_{day_no:02d}")
    bid = batch_id(day)
    files = dict(terms=os.path.join(src, f"terminals_{bid}.csv"),
                 txns=os.path.join(src, f"transactions_{bid}.txt"),
                 blacklist=os.path.join(src, f"passport_blacklist_{bid}.csv"))
    problems = []
    want = sorted(tuple(_cell(v) for v in r) + (day.isoformat(),)
                  for r in con.execute(RULES_SQL.format(date=day.isoformat(), **files)).fetchall())
    got = sorted(_read_tsv(mart_tsv))
    if got != want:
        problems.append(f"mart has {len(got)} rows, expected {len(want)}"
                        f" ({len(set(got) ^ set(want))} differ)")
    rules = {r[6] for r in want}
    if len(rules) < 4:
        problems.append(f"inputs exercise only rules {sorted(rules)}")
    snap = sorted(tuple(r) for r in pd.read_csv(files["terms"], sep=";", dtype=str)
                  .itertuples(index=False, name=None))
    if sorted(_read_tsv(terms_tsv)) != snap:
        problems.append("SCD2 current view differs from the day's snapshot")
    return problems


def check_run(drops, check_dir, days):
    """Checks every day graft captured under `check_dir`; returns
    {day name: problem} for the wrong ones."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("clients", "accounts"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{drops}/{t}.parquet')")
    wrong = {}
    for d in range(days):
        mart, terms = (os.path.join(check_dir, f"day_{d:02d}_{x}.tsv") for x in ("mart", "terminals"))
        problems = check_day(con, drops, d, mart, terms) if os.path.exists(mart) else ["not captured"]
        if problems:
            wrong[f"day_{d:02d}"] = "; ".join(problems)
    return wrong
