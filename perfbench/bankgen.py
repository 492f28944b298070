"""Seeded bank-workload generator: N clients x M days of daily extracts.

Extends ``tests/bank_fixture.py``'s planted patterns to any scale, built
from ``spark.range`` so generation is one Spark job however many days it
writes. Every client belongs to exactly one role pool, fixed for the run:

- ``passport``: passport expired 2019-12-31; two txns a day (rule 1);
- ``account``: account expired 2020-04-15; two txns a day (rule 2);
- ``hop``: two txns 30 minutes apart in two cities (rule 3), and a
  near-miss pair 90 minutes apart (hour field 1);
- ``chain``: three declines with strictly decreasing amounts five
  minutes apart, then a success (rule 4); a near-miss with two
  declines; and a midnight chain whose declines end one day at
  23:45-23:55 and whose success lands at 00:03 the next day;
- ``sweep``: one client per city that visits every terminal whose
  address changes that day, so each terminal change is observed on its
  day;
- ``hot``: a few clients with hundreds of txns a day (activity skew);
- ``background``: everyone else; a block of fresh clients is active
  each day with 1-3 txns, the first ``client_changes`` of the block
  change phone at noon.

Background traffic cannot fire a rule: each client keeps one home
city and uses only its terminals, passports and accounts are valid, and
a client never declines twice in a row. SCD changes go to fresh values
(a version counter in the phone / address), because a change back to
an old tuple creates no SCD2 version. The report rows per fraud type
per day, and the dimension sizes after each day, are therefore known
by construction (:func:`expected_report`, :func:`expected_dims`).

Day 0 additionally visits every terminal. A change takes effect at
noon: the changing entity transacts before and after, so the day
carries both values and the SCD2 staging versions them within the day.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from greenplum_dwh_spark import schemas

DAY0 = dt.date(2020, 5, 1)
N_CITIES = 20
NOON = 12 * 3600                # SCD changes take effect at noon
OPS = ["Пополнение", "Снятие", "Оплата"]

# component ids; they also keep trans_id unique across components
(_CHANGE, _BG, _HOT, _PASS, _ACCT, _HOP, _CHAIN, _MIDNIGHT, _SWEEP,
 _SWEEP_ALL) = range(10)


@dataclasses.dataclass(frozen=True)
class BankConfig:
    seed: int
    n_clients: int                # whole client universe
    terminals_per_city: int
    active_clients: int           # background clients active per day
    hot_clients: int
    hot_txns: int                 # txns per hot client per day
    passport_clients: int
    account_clients: int
    hops: int
    hop_near_misses: int
    chains: int
    chain_near_misses: int
    midnight_chains: int
    client_changes: int           # background clients changing phone / day
    terminal_changes: int         # terminals changing address / day

    # ---- role pools: contiguous client-index ranges -------------------
    @property
    def pools(self) -> dict[str, tuple[int, int]]:
        sizes = [("passport", self.passport_clients),
                 ("account", self.account_clients),
                 ("hop", self.hops + self.hop_near_misses),
                 ("chain", self.chains + self.chain_near_misses
                  + self.midnight_chains),
                 ("sweep", N_CITIES),
                 ("hot", self.hot_clients)]
        out, start = {}, 0
        for name, n in sizes:
            out[name] = (start, n)
            start += n
        out["background"] = (start, self.n_clients - start)
        if out["background"][1] < self.active_clients:
            raise ValueError("background pool smaller than active_clients")
        return out

    @property
    def n_terminals(self) -> int:
        return N_CITIES * self.terminals_per_city


def expected_report(cfg: BankConfig, day: int) -> dict[str, int]:
    """Report rows per fraud type that the mart must produce on ``day``."""
    return {
        schemas.FRAUD_EXPIRED_PASSPORT: 2 * cfg.passport_clients,
        schemas.FRAUD_EXPIRED_ACCOUNT: 2 * cfg.account_clients,
        schemas.FRAUD_CITY_HOP: cfg.hops,
        # a midnight chain's declines sit on the day before its success
        schemas.FRAUD_AMOUNT_GUESS: cfg.chains
        + (cfg.midnight_chains if day > 0 else 0),
    }


def expected_dims(cfg: BankConfig, last_day: int) -> dict[str, int]:
    """Row counts of every dimension after days 0..``last_day`` loaded.

    Every terminal and every client outside the background pool appear
    on day 0, and a fresh block of background clients every day. Each
    change takes effect at noon of its day, so that day shows the old
    and the new value: one SCD2 version more, no SCD1 row more."""
    days = last_day + 1
    n = (cfg.n_clients - cfg.pools["background"][1]
         + cfg.active_clients * days)
    t = cfg.n_terminals
    return {
        "dim_clients_hist": n + cfg.client_changes * days,
        "dim_terminals_hist": t + cfg.terminal_changes * days,
        "dim_cards_hist": n, "dim_accounts_hist": n,
        "dim_clients": n, "dim_terminals": t, "dim_cards": n,
        "dim_accounts": n,
    }


# ---- expressions ------------------------------------------------------
def _h(cfg: BankConfig, *cols) -> F.Column:
    """Non-negative seeded hash of the given columns."""
    return F.abs(F.xxhash64(F.lit(cfg.seed), *cols) % F.lit(1 << 40))


def _rows(spark: SparkSession, n: int, day: int, comp: int) -> DataFrame:
    return (spark.range(n).withColumnRenamed("id", "r")
            .withColumn("day", F.lit(day))
            .withColumn("comp", F.lit(comp)))


def _home_terminal(cfg: BankConfig, client: F.Column,
                   salt: F.Column) -> F.Column:
    city = _h(cfg, client, F.lit("city")) % N_CITIES
    return (city * cfg.terminals_per_city
            + _h(cfg, client, salt) % cfg.terminals_per_city)


def _version(start: F.Column, pool: int, per_day: int, stride: int,
             day: F.Column, sec: F.Column, max_day: int) -> F.Column:
    """Changes an entity at pool offset ``start`` has seen by second
    ``sec`` of ``day``: at noon of day d the entities at offsets
    [d*stride, d*stride + per_day) (mod pool) change."""
    v = F.lit(0)
    for d in range(max_day + 1):
        hit = (F.pmod(start - F.lit(d * stride), F.lit(pool))
               < F.lit(per_day))
        done = (day > d) | ((day == d) & (sec >= NOON))
        v = v + F.when(hit & done, 1).otherwise(0)
    return v


def _day_components(spark: SparkSession, cfg: BankConfig,
                    day: int) -> list[DataFrame]:
    """Rows of one day as (day, comp, r, client, sec, declined,
    cents, terminal); cents NULL means a seeded random amount."""
    p = cfg.pools
    null_cents = F.lit(None).cast("long")
    out = []

    def add(df: DataFrame, client, sec, declined, cents, terminal):
        out.append(df.select(
            "day", "comp", "r", client.cast("long").alias("client"),
            sec.cast("int").alias("sec"), declined.alias("declined"),
            cents.cast("long").alias("cents"),
            terminal.cast("long").alias("terminal")))

    r = F.col("r")
    b0, bn = p["background"]
    if day == 0:
        # every terminal once, by its city's sweep client, at 01:00
        df = _rows(spark, cfg.n_terminals, day, _SWEEP_ALL)
        city = F.floor(r / cfg.terminals_per_city)
        add(df, p["sweep"][0] + city,
            3600 + (r % cfg.terminals_per_city) * 7, F.lit(False),
            null_cents, r)
    # terminals whose address changes today, visited by their city's
    # sweep client an hour before noon and an hour after
    df = (_rows(spark, cfg.terminal_changes * 2, day, _SWEEP)
          .withColumn("i", F.floor(r / 2)).withColumn("k", r % 2))
    t = F.pmod(F.lit(day * cfg.terminal_changes) + F.col("i"),
               F.lit(cfg.n_terminals))
    add(df, p["sweep"][0] + F.floor(t / cfg.terminals_per_city),
        NOON - 3600 + F.col("k") * 7200 + F.col("i") * 7, F.lit(False),
        null_cents, t)

    # background: today's block of fresh clients, 1-3 txns each,
    # 10 minutes apart; only the middle txn of three is declined
    block = F.lit(day * cfg.active_clients)
    df = (_rows(spark, cfg.active_clients * 3, day, _BG)
          .withColumn("j", F.floor(r / 3)).withColumn("k", r % 3)
          .withColumn("client", b0 + block + F.col("j"))
          .withColumn("n", 1 + _h(cfg, F.col("client"), F.lit(day),
                                  F.lit("n")) % 3)
          .filter(F.col("k") < F.col("n")))
    c = F.col("client")
    base = _h(cfg, c, F.lit(day), F.lit("t")) % (86400 - 1800)
    add(df, c, base + F.col("k") * 600,
        (F.col("k") == 1) & (F.col("n") == 3), null_cents,
        _home_terminal(cfg, c, F.concat_ws("/", F.lit(day), F.col("k"))))
    # the block's first client_changes change phone at noon: each also
    # pays an hour before and an hour after, so both values are seen
    df = (_rows(spark, cfg.client_changes * 2, day, _CHANGE)
          .withColumn("client", b0 + block + F.floor(r / 2)))
    c = F.col("client")
    add(df, c, NOON - 3600 + (r % 2) * 7200
        + _h(cfg, c, F.lit(day), F.lit("c")) % 1800, F.lit(False),
        null_cents, _home_terminal(cfg, c, F.concat_ws("/", F.lit(day), r)))

    # hot clients: hot_txns a day at fixed spacing, every 5th declined
    h0, hn = p["hot"]
    if hn:
        gap = 84000 // cfg.hot_txns
        df = (_rows(spark, hn * cfg.hot_txns, day, _HOT)
              .withColumn("client", h0 + F.floor(r / cfg.hot_txns))
              .withColumn("k", r % cfg.hot_txns))
        c, k = F.col("client"), F.col("k")
        add(df, c, 600 + k * gap + _h(cfg, c, F.lit(day), k) % (gap // 2),
            k % 5 == 2, null_cents,
            _home_terminal(cfg, c, F.concat_ws("/", F.lit(day), k)))

    # expired passports / accounts: two successful txns a day at home
    for comp, pool in ((_PASS, "passport"), (_ACCT, "account")):
        s0, sn = p[pool]
        if sn:
            df = (_rows(spark, sn * 2, day, comp)
                  .withColumn("client", s0 + F.floor(r / 2)))
            c = F.col("client")
            add(df, c, 3600 + (r % 2) * 3600
                + _h(cfg, c, F.lit(day)) % 60000, F.lit(False), null_cents,
                _home_terminal(cfg, c, F.concat_ws("/", F.lit(day), r)))

    # city hops: (city a, city a+1) 30 min apart; near-misses 90 min
    o0, _ = p["hop"]
    n_hop = cfg.hops + cfg.hop_near_misses
    if n_hop:
        df = (_rows(spark, n_hop * 2, day, _HOP)
              .withColumn("i", F.floor(r / 2)).withColumn("k", r % 2))
        i, k = F.col("i"), F.col("k")
        gap = F.when(i < cfg.hops, 1800).otherwise(5400)
        city = F.pmod(i + day + k, F.lit(N_CITIES))
        add(df, o0 + i, 3600 + (i % 600) * 60 + k * gap, F.lit(False),
            null_cents, city * cfg.terminals_per_city
            + i % cfg.terminals_per_city)

    # amount-guessing chains: 3 declines 9000/8000/7000 then 6500 OK;
    # near-misses decline only twice; midnight chains decline on the
    # evening before (23:45-23:55) and succeed at 00:03 (1080 s < 1200)
    a0, _ = p["chain"]
    n_reg = cfg.chains + cfg.chain_near_misses
    if n_reg:
        df = (_rows(spark, n_reg * 4, day, _CHAIN)
              .withColumn("i", F.floor(r / 4)).withColumn("k", r % 4)
              .filter((F.col("i") < cfg.chains) | (F.col("k") >= 1)))
        i, k = F.col("i"), F.col("k")
        add(df, a0 + i, 3600 + (i % 1000) * 60 + k * 300, k < 3,
            900000 - k * 100000 - F.when(k == 3, 50000).otherwise(0),
            _home_terminal(cfg, a0 + i, F.lit("chain")))
    if cfg.midnight_chains:
        m0 = a0 + n_reg
        df = (_rows(spark, cfg.midnight_chains * 4, day, _MIDNIGHT)
              .withColumn("i", F.floor(r / 4)).withColumn("k", r % 4))
        i, k = F.col("i"), F.col("k")
        add(df, m0 + i,
            F.when(k < 3, 85500 + k * 300).otherwise(180), k < 3,
            F.when(k < 3, 990000 - k * 10000).otherwise(965000),
            _home_terminal(cfg, m0 + i, F.lit("chain")))
    return out


def _landing(cfg: BankConfig, rows: DataFrame, max_day: int) -> DataFrame:
    """Render generated rows as landing-schema extract rows."""
    p = cfg.pools
    c, t, d = F.col("client"), F.col("terminal"), F.col("day")
    b0, bn = p["background"]
    sec = F.col("sec")
    phone_v = F.when(
        c >= b0,
        _version(c - b0, bn, cfg.client_changes, cfg.active_clients, d,
                 sec, max_day)).otherwise(0)
    addr_v = _version(t, cfg.n_terminals, cfg.terminal_changes,
                      cfg.terminal_changes, d, sec, max_day)
    is_pass = c < p["passport"][1]
    is_acct = (c >= p["account"][0]) & (c < sum(p["account"]))
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(DAY0.isoformat()), "yyyy-MM-dd")
        + d * 86400 + F.col("sec"))
    city = F.format_string("City%02d", F.floor(t / cfg.terminals_per_city))
    rnd_cents = 10000 + _h(cfg, d, F.col("comp"), F.col("r")) % 9_000_000
    cents = F.coalesce(F.col("cents"), rnd_cents)
    ops = F.array(*[F.lit(o) for o in OPS])
    cols = {
        "trans_id": F.format_string("%03d%02d%09d", d, F.col("comp"),
                                    F.col("r")),
        "trans_date": ts,
        "card_num": (F.lit(5_000_000_000_000_000_000) + c).cast("string"),
        "account_num": (F.lit(4_081_781_000_000_000_000) + c).cast("string"),
        "account_valid_to": F.when(is_acct, F.lit(dt.date(2020, 4, 15)))
        .otherwise(F.lit(dt.date(2030, 1, 1))),
        "client": F.format_string("C%08d", c),
        "last_name": F.format_string("Фамилия%d", c),
        "first_name": F.format_string("Имя%d", c % 97),
        "patronymic": F.format_string("Отчество%d", c % 13),
        "date_of_birth": F.date_add(F.lit(dt.date(1950, 1, 1)),
                                    (c % 18000).cast("int")),
        "passport_num": (F.lit(4_000_000_000) + c).cast("string"),
        "passport_valid_to": F.when(is_pass, F.lit(dt.date(2019, 12, 31)))
        .otherwise(F.lit(dt.date(2030, 1, 1))),
        "phone": F.format_string("+7%010d-%d", c, phone_v),
        "oper_type": ops[(_h(cfg, d, F.col("comp"), F.col("r"), F.lit("op"))
                          % len(OPS)).cast("int")],
        "amount": (cents / 100).cast("decimal(18,2)"),
        "oper_result": F.when(F.col("declined"),
                              F.lit(schemas.RESULT_DECLINED))
        .otherwise(F.lit(schemas.RESULT_SUCCESS)),
        "terminal": F.format_string(
            "%s%06d", F.when(t % 2 == 1, "POS").otherwise("ATM"), t),
        "terminal_type": F.when(t % 2 == 1, "POS").otherwise("ATM"),
        "city": city,
        "address": F.format_string("%s, ул. Тестовая, д. %d, v%d", city, t,
                                   addr_v),
    }
    return rows.select(d, *[col.alias(name) for name, col in cols.items()])


def write_extracts(spark: SparkSession, cfg: BankConfig, out_dir: str,
                   n_days: int) -> list[str]:
    """Write days 0..n_days-1 as one parquet extract per day, in one
    Spark job; returns the extract paths in day order."""
    if cfg.pools["background"][1] < cfg.active_clients * n_days:
        raise ValueError("background pool too small for fresh blocks "
                         f"of {cfg.active_clients} clients on {n_days} days")
    parts = [df for day in range(n_days)
             for df in _day_components(spark, cfg, day)]
    rows = parts[0]
    for df in parts[1:]:
        rows = rows.unionByName(df)
    tmp = os.path.join(out_dir, "_by_day")
    (_landing(cfg, rows, n_days - 1).repartition("day")
     .write.mode("overwrite").partitionBy("day").parquet(tmp))
    paths = []
    for day in range(n_days):
        dst = os.path.join(out_dir, f"day_{day:03d}.parquet")
        shutil.rmtree(dst, ignore_errors=True)
        os.replace(os.path.join(tmp, f"day={day}"), dst)
        paths.append(dst)
    shutil.rmtree(tmp, ignore_errors=True)
    return paths
