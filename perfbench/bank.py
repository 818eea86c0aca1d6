"""Seeded bank generator for the ``daily_etl`` workload.

Produces, from one seed, everything the reference's 03:30 cron consumes:

* a ``transactions_DDMMYYYY.txt`` file per day (UTF-8 BOM, ``;``,
  decimal comma),
* ``terminals_DDMMYYYY.xlsx`` (full daily snapshot) and
  ``passport_blacklist_DDMMYYYY.xlsx`` (the accumulated list) workbooks,
* the ``clients``/``accounts``/``cards`` rows of the source database, as
  an initial load plus per-day SQL churn (updates, inserts, deletes),

together with the answers the engine must reach: the fraud-report rows
each day adds and the SCD2 version and tombstone count of every key.

Background traffic is built so that no fraud rule can fire on it: every
background client transacts only at terminals of one home city (rule 3),
has a valid passport that is not blacklisted (rule 1) and a live account
contract (rule 2), and never has two rejected operations in a row on a
card (rule 4 needs three). Each rule then fires only on the planted cases.
Churn only touches business columns no rule reads (phone, address) or
"spare" entities that never transact, so it cannot move the report.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from xlsx import write_xlsx

D0 = datetime(2025, 3, 3)
FAR = datetime(2031, 12, 31)
CITIES = ("Moscow", "Tver", "Kazan", "Samara", "Omsk", "Perm")
TX_HEADER = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"

# Background transactions a day. A day is bound by fixed per-job cost: on 4
# cores, four times as many (16000) ran the same 172 jobs with executor CPU
# up from 3.8 to 4.1 s and no wall-time change beyond run-to-run noise.
TX_PER_DAY = 4000
N_BACKGROUND = 400
N_SPARE = 160
N_TERMINALS = 60
N_SPARE_TERMINALS = 30
MAX_DAYS = 8
# planted fraud cases per day, by rule (1a expired passport, 1b
# blacklisted passport, 2 dead account contract, 3 city hop, 4 amount
# guessing); each case reports exactly one event
PLANTED = {"1a": 2, "1b": 2, "2": 2, "3": 3, "4": 3}
# per-day source-side churn
CHURN = {"client_upd": 8, "client_ins": 4, "client_del": 3,
         "account_upd": 4, "account_del": 3,
         "card_upd": 3, "card_del": 3,
         "terminal_upd": 5, "terminal_ins": 2, "terminal_del": 2,
         "blacklist_ins": 2}

# source-database tables; the generator's rows follow these column orders
DDL = {
    "clients": "CREATE TABLE clients (client_id VARCHAR(16), last_name VARCHAR(64),"
               " first_name VARCHAR(64), patronymic VARCHAR(64), date_of_birth TIMESTAMP,"
               " passport_num VARCHAR(16), passport_valid_to TIMESTAMP, phone VARCHAR(32),"
               " create_dt TIMESTAMP, update_dt TIMESTAMP)",
    "accounts": "CREATE TABLE accounts (account VARCHAR(24), valid_to TIMESTAMP,"
                " client VARCHAR(16), create_dt TIMESTAMP, update_dt TIMESTAMP)",
    "cards": "CREATE TABLE cards (card_num VARCHAR(24), account VARCHAR(24),"
             " create_dt TIMESTAMP, update_dt TIMESTAMP)",
}
# SCD2 dwh table -> its business key, for the version expectations
SCD2_TABLES = {"dim_clients_hist": "client_id", "dim_accounts_hist": "account_num",
               "dim_cards_hist": "card_num", "dim_terminals_hist": "terminal_id"}

_LAST = ("Ivanov", "Petrov", "Sidorov", "Smirnov", "Volkov", "Orlov", "Lebedev")
_FIRST = ("Ivan", "Anna", "Boris", "Vera", "Oleg", "Irina", "Pavel", "Olga")
_PATR = ("Ivanovich", "Petrovna", "Sergeevich", "Olegovna", None)


def _ts(dt: datetime | None) -> str:
    return "NULL" if dt is None else f"TIMESTAMP('{dt:%Y-%m-%d %H:%M:%S}')"


def _s(v: str | None) -> str:
    return "NULL" if v is None else "'" + v.replace("'", "''") + "'"


@dataclass
class Day:
    """Everything one day of the cron needs and must produce."""

    index: int
    date: datetime
    sql: list[str]  # source-database churn, applied before the run
    tx_lines: list[str]
    terminals: list[list[str]]
    blacklist: list[list[str]]
    fraud: Counter  # (event_type, passport, event_dt) -> count
    db_delta_rows: int
    db_delta_bytes: int
    versions: dict  # dwh table -> {key: (rows, tombstones)} after this day
    n_transactions_total: int
    n_blacklist_total: int

    @property
    def stamp(self) -> str:
        return f"{self.date:%d%m%Y}"

    def write_files(self, data_dir: str) -> tuple[int, int]:
        """Write the day's three source files; returns (rows, bytes)."""
        tx = os.path.join(data_dir, f"transactions_{self.stamp}.txt")
        with open(tx, "w", encoding="utf-8-sig", newline="\n") as fh:
            fh.write("\n".join([TX_HEADER] + self.tx_lines) + "\n")
        nbytes = os.path.getsize(tx)
        nbytes += write_xlsx(
            os.path.join(data_dir, f"terminals_{self.stamp}.xlsx"),
            ["terminal_id", "terminal_type", "terminal_city", "terminal_address"],
            self.terminals,
        )
        nbytes += write_xlsx(
            os.path.join(data_dir, f"passport_blacklist_{self.stamp}.xlsx"),
            ["date", "passport"], self.blacklist,
        )
        rows = len(self.tx_lines) + len(self.terminals) + len(self.blacklist)
        return rows, nbytes

    @property
    def source_rows(self) -> int:
        return (len(self.tx_lines) + len(self.terminals) + len(self.blacklist)
                + self.db_delta_rows)


@dataclass
class Bank:
    initial_sql: list[str] = field(default_factory=list)
    initial_rows: int = 0
    initial_bytes: int = 0
    days: list[Day] = field(default_factory=list)


class _Gen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.clients: dict[str, list] = {}
        self.accounts: dict[str, list] = {}
        self.cards: dict[str, list] = {}
        self.terminals: dict[str, list] = {}  # id -> [type, city, address]
        self.blacklist: list[list[str]] = []
        self.versions = {t: {} for t in SCD2_TABLES}
        self.n_tx = 0
        self.next_client = 0
        self.next_terminal = 0
        self.account_of: dict[str, str] = {}
        self.cards_of: dict[str, list[str]] = {}

    # -- entity construction ------------------------------------------------

    def _client(self, created: datetime, valid_to: datetime = FAR) -> str:
        r = self.rng
        self.next_client += 1
        cid = f"CL{self.next_client:05d}"
        passport = f"{r.randrange(1000, 9999)} {self.next_client:06d}"
        self.clients[cid] = [
            cid, r.choice(_LAST), r.choice(_FIRST), r.choice(_PATR),
            datetime(1950 + r.randrange(50), 1 + r.randrange(12), 1 + r.randrange(28)),
            passport, valid_to, f"+7 9{r.randrange(10**8, 10**9)}", created, None,
        ]
        return cid

    def _account(self, cid: str, created: datetime, valid_to: datetime = FAR) -> str:
        acc = f"40817810{int(cid[2:]):012d}"
        self.accounts[acc] = [acc, valid_to, cid, created, None]
        return acc

    def _card(self, acc: str, k: int, created: datetime) -> str:
        card = f"4276 {int(acc[-6:]):06d} {k:04d}"
        self.cards[card] = [card, acc, created, None]
        return card

    def _terminal(self, city: str) -> str:
        self.next_terminal += 1
        tid = f"TRM{self.next_terminal:04d}"
        self.terminals[tid] = [self.rng.choice(("ATM", "POS")), city,
                               f"{city}, ul. {self.rng.randrange(1, 200)}"]
        return tid

    def _holder(self, passport_valid: datetime = FAR, account_valid: datetime = FAR,
                n_cards: int = 1, created: datetime = D0 - timedelta(days=1)):
        cid = self._client(created, passport_valid)
        acc = self._account(cid, created, account_valid)
        self.account_of[cid] = acc
        self.cards_of[cid] = [self._card(acc, k, created) for k in range(n_cards)]
        return cid, self.cards_of[cid]

    # -- bookkeeping --------------------------------------------------------

    def _bump(self, table: str, key: str, rows: int = 1, tomb: int = 0):
        r, t = self.versions[table].get(key, (0, 0))
        self.versions[table][key] = (r + rows, t + tomb)

    def _snapshot_versions(self) -> dict:
        return {t: dict(v) for t, v in self.versions.items()}

    # -- the bank -----------------------------------------------------------

    def build(self, n_days: int) -> Bank:
        r = self.rng
        self.home = {}
        by_city = {c: [] for c in CITIES}
        for _ in range(N_TERMINALS):
            c = CITIES[len(self.terminals) % len(CITIES)]
            by_city[c].append(self._terminal(c))
        self.by_city = by_city
        self.spare_terminals = [self._terminal(r.choice(CITIES))
                                for _ in range(N_SPARE_TERMINALS)]
        self.background = []
        for _ in range(N_BACKGROUND):
            cid, cards = self._holder(n_cards=1 + r.randrange(2))
            self.home[cid] = r.choice(CITIES)
            self.background.append((cid, cards))
        past = D0 - timedelta(days=30)
        self.pools = {
            "1a": [self._holder(passport_valid=past) for _ in range(PLANTED["1a"])],
            "1b": [self._holder() for _ in range(PLANTED["1b"])],
            "2": [self._holder(account_valid=past - timedelta(days=10)) for _ in range(PLANTED["2"])],
            "3": [self._holder() for _ in range(PLANTED["3"])],
            "4": [self._holder() for _ in range(PLANTED["4"])],
        }
        for cid, _ in self.pools["1b"]:
            self.blacklist.append([f"{D0 - timedelta(days=60):%Y-%m-%d %H:%M:%S}",
                                   self.clients[cid][5]])
        self.spare = [self._holder(n_cards=2)[0] for _ in range(N_SPARE)]
        for i in range(20):  # pre-existing blacklist noise on spare clients
            self.blacklist.append([f"{D0 - timedelta(days=40 + i):%Y-%m-%d %H:%M:%S}",
                                   self.clients[self.spare[i]][5]])
        self.deleted: set[str] = set()

        bank = Bank()
        for name, rows in (("clients", self.clients), ("accounts", self.accounts),
                           ("cards", self.cards)):
            vals = [_row_sql(v) for v in rows.values()]
            for i in range(0, len(vals), 200):
                bank.initial_sql.append(f"INSERT INTO {name} VALUES " + ", ".join(vals[i:i + 200]))
            bank.initial_rows += len(vals)
            bank.initial_bytes += sum(len(v) for v in vals)
        for cid in self.clients:
            self._bump("dim_clients_hist", cid)
        for a in self.accounts:
            self._bump("dim_accounts_hist", a)
        for c in self.cards:
            self._bump("dim_cards_hist", c)
        for t in self.terminals:
            self._bump("dim_terminals_hist", t)
        for d in range(n_days):
            bank.days.append(self._day(d))
        return bank

    def _churn(self, date: datetime) -> tuple[list[str], int, int]:
        r = self.rng
        sql, rows, nbytes = [], 0, 0
        t = date + timedelta(minutes=10)

        def tick():
            nonlocal t
            t += timedelta(seconds=1)
            return t

        def emit(stmt: str, changed: int = 1):
            nonlocal rows, nbytes
            sql.append(stmt)
            rows += changed
            nbytes += len(stmt)

        live_spare = [c for c in self.spare if c not in self.deleted]
        picks = r.sample(live_spare, CHURN["client_del"] + CHURN["account_del"] + CHURN["card_del"])
        # clients: phone changes on background clients (no rule reads phone)
        for cid, _ in r.sample(self.background, CHURN["client_upd"]):
            row = self.clients[cid]
            row[7], row[9] = f"+7 9{r.randrange(10**8, 10**9)}", tick()
            emit(f"UPDATE clients SET phone = {_s(row[7])}, update_dt = {_ts(row[9])} "
                 f"WHERE client_id = {_s(cid)}")
            self._bump("dim_clients_hist", cid)
        # deletes and account/card updates only touch spare holders, and a
        # holder picked for a delete is never churned again
        n_cl, n_acc = CHURN["client_del"], CHURN["account_del"]
        for cid in picks[:n_cl]:
            emit(f"DELETE FROM clients WHERE client_id = {_s(cid)}")
            self._bump("dim_clients_hist", cid, tomb=1)
        for cid in picks[n_cl:n_cl + n_acc]:
            acc = self.account_of[cid]
            emit(f"DELETE FROM accounts WHERE account = {_s(acc)}")
            self._bump("dim_accounts_hist", acc, tomb=1)
        for cid in picks[n_cl + n_acc:]:
            card = self.cards_of[cid][0]
            emit(f"DELETE FROM cards WHERE card_num = {_s(card)}")
            self._bump("dim_cards_hist", card, tomb=1)
        self.deleted.update(picks)
        live_spare = [c for c in self.spare if c not in self.deleted]
        for cid in r.sample(live_spare, CHURN["account_upd"]):
            acc = self.account_of[cid]
            row = self.accounts[acc]
            row[1] = FAR + timedelta(days=r.randrange(1, 900))
            row[4] = tick()
            emit(f"UPDATE accounts SET valid_to = {_ts(row[1])}, update_dt = {_ts(row[4])} "
                 f"WHERE account = {_s(acc)}")
            self._bump("dim_accounts_hist", acc)
        for cid in r.sample(live_spare, CHURN["card_upd"]):
            card = self.cards_of[cid][-1]
            row = self.cards[card]
            other = r.choice([c for c in live_spare if c != cid])
            row[1] = self.account_of[other]
            row[3] = tick()
            emit(f"UPDATE cards SET account = {_s(row[1])}, update_dt = {_ts(row[3])} "
                 f"WHERE card_num = {_s(card)}")
            self._bump("dim_cards_hist", card)
        # inserts last: a holder created today is not also changed today
        for _ in range(CHURN["client_ins"]):
            cid, cards = self._holder(n_cards=1, created=tick())
            self.spare.append(cid)
            acc = self.account_of[cid]
            for tbl, dwh, key, vals in (
                ("clients", "dim_clients_hist", cid, self.clients[cid]),
                ("accounts", "dim_accounts_hist", acc, self.accounts[acc]),
                ("cards", "dim_cards_hist", cards[0], self.cards[cards[0]]),
            ):
                emit(f"INSERT INTO {tbl} VALUES {_row_sql(vals)}")
                self._bump(dwh, key)
        return sql, rows, nbytes

    def _terminal_churn(self):
        """The terminal workbook is a full snapshot: a terminal missing
        from it is deleted. Deletes go first so a terminal is never
        changed and dropped, or added and dropped, on one day."""
        r = self.rng
        for tid in r.sample(self.spare_terminals, CHURN["terminal_del"]):
            self.spare_terminals.remove(tid)
            del self.terminals[tid]
            self._bump("dim_terminals_hist", tid, tomb=1)
        for tid in r.sample(sorted(self.terminals), CHURN["terminal_upd"]):
            row = self.terminals[tid]
            row[2] = f"{row[1]}, ul. {r.randrange(200, 400)}"
            self._bump("dim_terminals_hist", tid)
        for _ in range(CHURN["terminal_ins"]):
            tid = self._terminal(r.choice(CITIES))
            self.spare_terminals.append(tid)
            self._bump("dim_terminals_hist", tid)

    def _day(self, d: int) -> Day:
        r = self.rng
        date = D0 + timedelta(days=d)
        if d:
            sql, db_rows, db_bytes = self._churn(date)
            self._terminal_churn()
            for _ in range(CHURN["blacklist_ins"]):
                cid = r.choice(self.spare)
                self.blacklist.append([f"{date - timedelta(days=1):%Y-%m-%d %H:%M:%S}",
                                       self.clients[cid][5]])
        else:
            sql, db_rows, db_bytes = [], 0, 0
        tx: list[tuple] = []  # (time, card, terminal, type, result, amount)
        secs = r.sample(range(6 * 3600, 22 * 3600), TX_PER_DAY)
        for s in secs:
            cid, cards = r.choice(self.background)
            term = r.choice(self.by_city[self.home[cid]])
            tx.append([date + timedelta(seconds=s), r.choice(cards), term,
                       r.choice(("PAYMENT", "WITHDRAW", "DEPOSIT")),
                       "REJECT" if r.random() < 0.06 else "SUCCESS",
                       round(r.uniform(10, 9000), 2)])
        # no two rejected operations in a row on one card: rule 4 needs three
        last_reject: dict[str, bool] = {}
        for row in sorted(tx, key=lambda x: (x[1], x[0])):
            if row[4] == "REJECT" and last_reject.get(row[1]):
                row[4] = "SUCCESS"
            last_reject[row[1]] = row[4] == "REJECT"
        fraud: Counter = Counter()

        def plant(cid, when, card, term, otype, result, amount, event=None):
            tx.append([when, card, term, otype, result, amount])
            if event:
                fraud[(event, self.clients[cid][5], f"{when:%Y-%m-%d %H:%M:%S}")] += 1

        def at(lo_h=7, hi_h=20):
            return date + timedelta(seconds=r.randrange(lo_h * 3600, hi_h * 3600))

        for rule, event in (("1a", 1), ("1b", 1), ("2", 2)):
            for cid, cards in self.pools[rule]:
                plant(cid, at(), cards[0], r.choice(self.by_city[r.choice(CITIES)]),
                      "PAYMENT", "SUCCESS", round(r.uniform(10, 900), 2), event)
        for cid, cards in self.pools["3"]:
            a, b = r.sample(CITIES, 2)
            t0 = at()
            plant(cid, t0, cards[0], r.choice(self.by_city[a]), "PAYMENT", "SUCCESS",
                  round(r.uniform(10, 900), 2))
            plant(cid, t0 + timedelta(minutes=30), cards[0], r.choice(self.by_city[b]),
                  "PAYMENT", "SUCCESS", round(r.uniform(10, 900), 2), 3)
        for cid, cards in self.pools["4"]:
            t0, term = at(), r.choice(self.by_city[r.choice(CITIES)])
            amt = r.uniform(4000, 9000)
            for k in range(3):
                plant(cid, t0 + timedelta(minutes=4 * k), cards[0], term, "WITHDRAW",
                      "REJECT", round(amt * (1 - 0.2 * k), 2))
            plant(cid, t0 + timedelta(minutes=12), cards[0], term, "WITHDRAW",
                  "SUCCESS", round(amt * 0.3, 2), 4)
        tx.sort(key=lambda x: x[0])
        lines = []
        for i, (when, card, term, otype, result, amount) in enumerate(tx):
            amt = f"{amount:.2f}".replace(".", ",")  # decimal comma
            lines.append(f"T{d:02d}{i:07d};{when:%Y-%m-%d %H:%M:%S};{amt};"
                         f"{card};{otype};{result};{term}")
        self.n_tx += len(lines)
        return Day(
            index=d, date=date, sql=sql, tx_lines=lines,
            terminals=[[tid, *v] for tid, v in sorted(self.terminals.items())],
            blacklist=[list(b) for b in self.blacklist],
            fraud=fraud, db_delta_rows=db_rows, db_delta_bytes=db_bytes,
            versions=self._snapshot_versions(),
            n_transactions_total=self.n_tx, n_blacklist_total=len(self.blacklist),
        )


def _row_sql(vals) -> str:
    return "(" + ", ".join(_ts(v) if isinstance(v, datetime) else _s(v) for v in vals) + ")"


def generate(seed: int, n_days: int = MAX_DAYS) -> Bank:
    """The whole bank for ``n_days`` days (day 0 is the initial load)."""
    return _Gen(seed).build(n_days)
