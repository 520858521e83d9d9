"""The Moonshot strategy engine, PySpark-native (SURVEY.md §2.9 D18–D22, §3).

Reference: moonshot/strategies/base.py (quantrocket-llc/moonshot).  The
reference drives a fixed DAG of eager pandas matrix transformations
(base.py:1335-1351); here the same template-method API builds ONE lazy
DataFrame lineage over the wide panel (SURVEY.md §7.0):

    prices(sid, date[, time], open, close, volume, ...)
      → signal → weight → position → gross_return
      → commission/slippage → return → turnover/total_holdings
      → melt to results(field, sid, date[, time], value)

Every stage is a ``withColumn`` over the same rows, so pandas'
index-aligned arithmetic (the reference's core semantics) is same-row
column arithmetic — no joins.  The only shuffles in the whole backtest are:

  1. one hash partition by ``sid`` for the per-sid window stage chain
     (signals→positions→returns share one Window exec after Catalyst
     collapses same-key windows), and
  2. one hash partition by ``date`` for the cross-sectional allocation
     windows.

At 100 TB that is two exchanges total, each streaming — no driver
materialization anywhere (the reference materializes every stage in RAM,
base.py:1335-1351).  One exception: a once-a-day strategy over an
INTRADAY panel with caps or commissions adds first-bar-contract-value
aggregations + joins (built once per backtest, ``_cv_caps`` /
``_cv_commissions``), mirroring the reference's earliest-bar
pricing.

Hook surface (the reference's UDF surface, base.py:298,336,389,437,483):
user subclasses override ``prices_to_signals`` etc.; hooks receive and
return Spark DataFrames.  Pandas strategies can instead run unmodified via
``applyInPandas`` per sid-partition — see strategies/compat.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from moonshot_spark.functions.window import pct_change, shift
from moonshot_spark.operators.weights import allocate_equal_weights
from moonshot_spark.sources.local import local_df


class MoonshotError(Exception):
    pass


class MoonshotParameterError(MoonshotError):
    pass


#: canonical master (securities dimension) columns — reference base.py:1094-1096
MASTER_COLUMNS = ["sid", "symbol", "sec_type", "currency", "exchange",
                  "timezone", "price_magnifier", "multiplier"]

#: output metric fields, alphabetical like the reference's sorted concat
#: (base.py:1382 ``sorted(all_results.keys())``)
RESULT_FIELDS = ["AbsExposure", "AbsWeight", "Commission", "NetExposure",
                 "Return", "Signal", "Slippage", "TotalHoldings", "Turnover",
                 "Weight"]


def _latest_per_sid(df: DataFrame) -> DataFrame:
    """Each sid's latest-``time`` row: the batch as-of slice of an
    intraday frame when no signal time is set."""
    w = Window.partitionBy("sid").orderBy(F.desc("time"))
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))


def _quote_currency(columns: list[str]) -> Column:
    """A security's currency, except that a CASH pair's is the quote
    currency taken from its symbol: 100 EUR.USD is 100 EUR, not 100 USD
    (reference base.py:1129-1134, 1640-1644)."""
    ccy = F.col("currency")
    if "sec_type" in columns and "symbol" in columns:
        ccy = F.when(F.col("sec_type") == "CASH",
                     F.split(F.col("symbol"), r"\.")[0]).otherwise(ccy)
    return ccy


def single_timezone(master: DataFrame) -> str | None:
    """The one timezone of the securities in ``master``, or None if none
    names one.  Mixed timezones make signal dates ambiguous, so they
    raise (reference base.py:1116-1125)."""
    tzs = [r[0] for r in
           master.select("timezone").distinct().collect() if r[0]]
    if len(tzs) > 1:
        raise MoonshotParameterError(
            "cannot infer timezone because multiple timezones are present "
            "in data, please specify TIMEZONE explicitly (timezones: {0})"
            .format(", ".join(sorted(tzs))))
    return tzs[0] if tzs else None


def _size_quantities(df: DataFrame, name: str, value: Column, cv: Column,
                     max_long: Column | None, max_short: Column | None
                     ) -> tuple[DataFrame, Column]:
    """Weights → integer quantities under position caps (reference
    base.py:947-956 backtest, 1728-1758 trade).

    Adds ``name`` = ``value`` (a weight times NLV) over the absolute
    contract value ``cv``, rounded half-even like numpy (0 where ``cv``
    is 0 or NULL), and returns the frame with the capped quantity: at
    most ``|max_long|`` long and ``|max_short|`` short, a NULL cap being
    no limit (the NaN sentinel, base.py:997-998)."""
    qty = value / F.abs(F.when(cv != 0, cv))
    df = df.withColumn(name, F.coalesce(F.bround(qty), F.lit(0.0))
                       .cast("long"))
    q = F.col(name)
    if max_long is not None:
        cap = F.abs(max_long)
        q = F.when(cap.isNotNull() & (q > cap), cap.cast("long")).otherwise(q)
    if max_short is not None:
        cap = -F.abs(max_short)
        q = F.when(cap.isNotNull() & (q < cap), cap.cast("long")).otherwise(q)
    return df, q


class Moonshot:
    """Template-method backtest engine (reference base.py:33).

    Configuration class attributes mirror the reference's (base.py:186-310).
    """

    CODE: str | None = None
    DB: str | None = None
    DB_FIELDS: list[str] = ["Open", "Close", "Volume"]
    DB_TIMES: str | list[str] | None = None   # intraday bar filter (S1)
    #: "daily" rolls an intraday panel up to daily bars in get_prices
    #: (reference base.py:1246-1251 forwards this to the history service,
    #: which performs the same rollup); "minute"/None pass through
    DB_DATA_FREQUENCY: str | None = None
    #: service-level option with no parquet-side meaning, declared for
    #: API parity: continuous-futures stitching happens upstream of the
    #: panel in the reference (base.py:1246-1250)
    CONT_FUT: str | None = None
    SIDS: str | list[str] | None = None
    UNIVERSES: str | list[str] | None = None
    EXCLUDE_SIDS: str | list[str] | None = None
    EXCLUDE_UNIVERSES: str | list[str] | None = None
    LOOKBACK_WINDOW: int | None = None
    COMMISSION_CLASS = None          # Commission subclass or dict[sec-group → cls]
    SLIPPAGE_CLASSES = ()
    SLIPPAGE_BPS: float = 0
    BENCHMARK: str | None = None
    POSITIONS_CLOSED_DAILY: bool = False
    ALLOW_REBALANCE: bool | float = True
    CONTRACT_VALUE_REFERENCE_FIELD: str | None = None
    NLV: dict[str, float] | None = None
    CALENDAR: str | None = None      # exchange code for signal-date resolution
    TIMEZONE: str | None = None      # tz for "today" when no CALENDAR
    #: callable exchange → {"status", "since", "timezone"}; see
    #: sources/calendars.make_calendar_service (the reference's
    #: list_calendar_statuses seam, base.py:744)
    calendar_service = None

    def __init__(self):
        self.is_backtest = False
        self.is_trade = False
        self._no_cache = False
        self._backtest_results: dict[str, str] = {}   # field name → column name
        self._securities_master: DataFrame | None = None
        self._benchmark_prices: DataFrame | None = None
        self._signal_date = None
        self._signal_time = None
        #: per-run memo of the shared daily contract-value frame (caps:
        #: ffilled global-earliest-bar slice; commissions: per-day first
        #: non-null — reference base.py:943-949 vs 852-854; ONE scan)
        self._cv_daily_cache = None

    # ------------------------------------------------------------------ #
    # window helpers                                                     #
    # ------------------------------------------------------------------ #

    @staticmethod
    def _is_intraday(df: DataFrame) -> bool:
        """Intraday panels carry a ``time`` column (reference checks
        ``"Time" in prices.index.names``, base.py:849-850)."""
        return "time" in df.columns

    def _sid_window(self, df: DataFrame) -> WindowSpec:
        order = ["date", "time"] if self._is_intraday(df) else ["date"]
        return Window.partitionBy("sid").orderBy(*order)

    def _date_cols(self, df: DataFrame) -> tuple[str, ...]:
        return ("date", "time") if self._is_intraday(df) else ("date",)

    # ------------------------------------------------------------------ #
    # user hooks (the UDF surface — reference base.py:298-545)           #
    # ------------------------------------------------------------------ #

    @staticmethod
    def _call_hook(hook, frame: DataFrame, prices: DataFrame) -> DataFrame:
        """Invoke a user hook with either the Spark-native 1-arg signature
        or the reference's 2-arg ``(frame, prices)`` signature (reference
        base.py:386,434,479 pass prices as the second argument) — so a
        strategy ported line-for-line from the reference keeps its method
        signatures."""
        import inspect
        try:
            params = [p for p in inspect.signature(hook).parameters.values()
                      if p.kind in (p.POSITIONAL_ONLY,
                                    p.POSITIONAL_OR_KEYWORD)]
        except (TypeError, ValueError):
            return hook(frame)
        # only a REQUIRED second positional gets the prices frame: a
        # Spark-native hook with an extra defaulted tunable
        # (def hook(self, signals, cap=0.5)) must keep its default
        two_arg = (len(params) >= 2
                   and params[1].default is inspect.Parameter.empty)
        return hook(frame, prices) if two_arg else hook(frame)

    def prices_to_signals(self, prices: DataFrame) -> DataFrame:
        """Return ``prices`` with a ``signal`` column (reference base.py:298)."""
        raise NotImplementedError("strategies must implement prices_to_signals")

    def signals_to_target_weights(self, signals: DataFrame) -> DataFrame:
        """Default: equal weights among active signals (reference base.py:386)."""
        return allocate_equal_weights(signals, date_cols=self._date_cols(signals))

    def target_weights_to_positions(self, weights: DataFrame) -> DataFrame:
        """Default: enter position the period after allocation —
        ``positions = weights.shift()`` (reference base.py:434)."""
        return weights.withColumn(
            "position", shift("weight", 1, self._sid_window(weights)))

    def positions_to_gross_returns(self, positions: DataFrame) -> DataFrame:
        """Default: ``closes.pct_change() * positions.shift()``
        (reference base.py:479-481)."""
        w = self._sid_window(positions)
        return positions.withColumn(
            "gross_return", pct_change("close", 1, w) * shift("position", 1, w))

    def limit_position_sizes(self, prices: DataFrame
                             ) -> tuple[DataFrame | None, DataFrame | None]:
        """Return (max_quantities_for_longs, max_quantities_for_shorts) as
        DataFrames keyed (sid, date[, time]) with a ``max_quantity`` column,
        or (None, None) for unconstrained (reference base.py:974-1048).
        NULL max_quantity = no limit for that row (NaN sentinel,
        base.py:997-998)."""
        return None, None

    def order_stubs_to_orders(self, orders: DataFrame,
                              prices: DataFrame) -> DataFrame:
        """Default: market DAY orders (reference base.py:483,543-545)."""
        return orders.withColumn("order_type", F.lit("MKT")) \
                     .withColumn("tif", F.lit("DAY"))

    # ------------------------------------------------------------------ #
    # results registration (D25, reference base.py:1502-1570)            #
    # ------------------------------------------------------------------ #

    def save_to_results(self, name: str, column: str) -> None:
        """Register a panel column for inclusion in backtest results under
        field ``name``.  Reserved names rejected like base.py:1502-1570."""
        if name in RESULT_FIELDS or name == "Benchmark":
            raise MoonshotParameterError(
                f"{name} is a reserved name, please choose another")
        self._backtest_results[name] = column

    # ------------------------------------------------------------------ #
    # weight-allocation mixin surface (D1-D5 — reference mixins/weight.py;
    # thin method delegates so reference-style strategies can call
    # ``self.allocate_*`` exactly as they do today)                      #
    # ------------------------------------------------------------------ #

    def allocate_equal_weights(self, signals: DataFrame,
                               cap: float = 1.0) -> DataFrame:
        from moonshot_spark.operators import weights as _w
        return _w.allocate_equal_weights(
            signals, cap=cap, date_cols=self._date_cols(signals))

    def allocate_fixed_weights(self, signals: DataFrame,
                               weight: float) -> DataFrame:
        from moonshot_spark.operators import weights as _w
        return _w.allocate_fixed_weights(signals, weight)

    def allocate_fixed_weights_capped(self, signals: DataFrame, weight: float,
                                      cap: float = 1.0) -> DataFrame:
        from moonshot_spark.operators import weights as _w
        return _w.allocate_fixed_weights_capped(
            signals, weight, cap=cap, date_cols=self._date_cols(signals))

    def allocate_market_neutral_fixed_weights_capped(
            self, signals: DataFrame, weight: float, cap: float = 1.0,
            neutralize_weights: bool = True) -> DataFrame:
        from moonshot_spark.operators import weights as _w
        return _w.allocate_market_neutral_fixed_weights_capped(
            signals, weight, cap=cap, neutralize=neutralize_weights,
            date_cols=self._date_cols(signals))

    def neutralize_weights(self, weights: DataFrame) -> DataFrame:
        from moonshot_spark.operators import weights as _w
        return _w.neutralize_weights(
            weights, date_cols=self._date_cols(weights))

    # ------------------------------------------------------------------ #
    # contract values (D7, reference base.py:1857-1913)                  #
    # ------------------------------------------------------------------ #

    _CONTRACT_VALUE_CANDIDATE_FIELDS = ("close", "open")

    def _contract_value_expr(self, prices: DataFrame):
        field = (self.CONTRACT_VALUE_REFERENCE_FIELD or "").lower() or None
        if field is None:
            for candidate in self._CONTRACT_VALUE_CANDIDATE_FIELDS:
                if candidate in prices.columns:
                    field = candidate
                    break
            else:
                raise MoonshotParameterError(
                    "Can't identify a suitable field to use to calculate "
                    "contract values. Please set CONTRACT_VALUE_REFERENCE_FIELD.")
        price = F.col(field)
        # FX contract value is 1 (1 EUR.USD = 1 EUR) — reference base.py:1903-1908
        if "sec_type" in prices.columns:
            price = F.when(F.col("sec_type") == "CASH", F.lit(1.0)).otherwise(price)
        magnifier = (F.coalesce(F.col("price_magnifier"), F.lit(1.0))
                     if "price_magnifier" in prices.columns else F.lit(1.0))
        multiplier = (F.coalesce(F.col("multiplier"), F.lit(1.0))
                      if "multiplier" in prices.columns else F.lit(1.0))
        return price / magnifier * multiplier

    # ------------------------------------------------------------------ #
    # turnover (D6, reference base.py:701-714)                           #
    # ------------------------------------------------------------------ #

    def _turnover_expr(self, df: DataFrame):
        from moonshot_spark.operators.turnover import turnover_expr

        return turnover_expr("position", self.POSITIONS_CLOSED_DAILY,
                             self._sid_window(df))

    # ------------------------------------------------------------------ #
    # commissions (D8/D14, reference base.py:839-901)                    #
    # ------------------------------------------------------------------ #

    def _with_commissions(self, df: DataFrame,
                          prices: DataFrame | None = None) -> DataFrame:
        if not self.COMMISSION_CLASS:
            return df.withColumn("commission", F.lit(0.0))

        if (prices is not None and self._is_intraday(prices)
                and not self._is_intraday(df)):
            # once-a-day intraday: commissions price at the day's first
            # NON-NULL bar (reference _get_commissions
            # groupby(Date).first(), base.py:852-854), not the bar the
            # strategy sliced
            df = df.join(self._cv_commissions(prices), ["sid", "date"],
                         "left")
            contract_value = F.col("__cv")
        else:
            contract_value = self._contract_value_expr(df)
        turnover = F.col("turnover")
        nlv = F.col("nlv") if "nlv" in df.columns else None

        if not isinstance(self.COMMISSION_CLASS, dict):
            expr = self.COMMISSION_CLASS.commission_expr(contract_value, turnover, nlv)
            return df.withColumn("commission", expr).drop("__cv")

        # per-(sectype, exchange, currency) dispatch — reference base.py:869-901.
        # The reference layers `.where(in_sec_group, ...)` per group; here
        # that's a CASE WHEN chain on broadcast-joined master columns.
        # Completeness validation reads the broadcast-sized securities
        # master when available — collecting from the fact-table panel
        # would be a full scan at scale.
        commission_classes = {tuple(k): v for k, v in self.COMMISSION_CLASS.items()}
        source = (self._securities_master
                  if self._securities_master is not None else df)
        required = {
            (r["sec_type"], r["exchange"], r["currency"])
            for r in source.select("sec_type", "exchange", "currency")
            .distinct().collect()
            if r["sec_type"] is not None
        }
        missing = required - set(commission_classes)
        if missing:
            raise MoonshotParameterError(
                "expected a commission class for each combination of "
                "(sectype,exchange,currency) but none is defined for {0}".format(
                    ", ".join("({0})".format(",".join(t)) for t in sorted(missing))))
        expr = F.lit(None).cast("double")
        for (sec_type, exchange, currency), cls in commission_classes.items():
            in_group = ((F.col("sec_type") == sec_type)
                        & (F.col("exchange") == exchange)
                        & (F.col("currency") == currency))
            expr = F.when(in_group,
                          cls.commission_expr(contract_value, turnover, nlv)
                          ).otherwise(expr)
        return df.withColumn("commission", expr).drop("__cv")

    # ------------------------------------------------------------------ #
    # slippage (D12/D15, reference base.py:903-919)                      #
    # ------------------------------------------------------------------ #

    def _with_slippage(self, df: DataFrame) -> DataFrame:
        from moonshot_spark.slippage.fixed import FixedSlippage

        turnover = F.col("turnover")
        position = F.col("position")
        total = F.lit(0.0)
        slippage_classes = self.SLIPPAGE_CLASSES or ()
        if not isinstance(slippage_classes, (list, tuple)):
            slippage_classes = [slippage_classes]
        for slippage_class in slippage_classes:
            inst = slippage_class() if isinstance(slippage_class, type) else slippage_class
            total = total + inst.slippage_expr(df, turnover, position)
        if self.SLIPPAGE_BPS:
            total = total + FixedSlippage(self.SLIPPAGE_BPS / 10000.0) \
                .slippage_expr(df, turnover, position)
        return df.withColumn("slippage", F.coalesce(total, F.lit(0.0)))

    # ------------------------------------------------------------------ #
    # weight constraints (D16, reference base.py:921-972)                #
    # ------------------------------------------------------------------ #

    # earliest-bar key: (length, value) so a non-zero-padded "9:30:00"
    # sorts before "15:30:00" here.  NOTE: zero-padded HH:MM:SS is the
    # engine-wide time contract (every window orderBy and time
    # comparison is lexicographic); this key is defense-in-depth for
    # these aggregates only, not blanket support for unpadded times
    @staticmethod
    def _time_key():
        return F.struct(F.length("time"), F.col("time"))

    def _cv_daily_frames(self, prices: DataFrame) -> DataFrame:
        """ONE map-side-combinable groupBy over the intraday panel that
        yields BOTH once-a-day daily contract-value frames the reference
        derives in separate pandas passes:

        - ``__cv_comm``: first NON-NULL value within each day, NO
          cross-day ffill — exactly _get_commissions (base.py:852-854)
          ``contract_values.groupby(Date).first()`` (pandas ``.first()``
          skips NaN within the group).
        - ``__cv_caps`` (+ ``__has_tmin``): cross-day-ffilled value at
          the panel-GLOBAL earliest bar — exactly _constrain_weights
          (base.py:934-949) ``contract_values.ffill().xs(earliest_time)``
          with ``earliest_time = Time.unique().min()`` (deliberately the
          stalest bar, to avoid lookahead bias).

        Scale shape: the naive caps form is a bar-level window ffill
        (full per-sid sort of the intraday panel).  Because no bar on
        any date precedes the GLOBAL earliest time, the ffilled value at
        that bar equals ``coalesce(raw value at the bar, last non-null
        over all PRIOR DAYS' bars)`` — so one hash aggregate to daily
        grain plus a window over the (tiny) daily frame replaces the
        panel-wide sort.  The global earliest time is a broadcast 1-row
        aggregate, not a collect.  Dates whose grid lacks the earliest
        bar get ``__has_tmin`` false (caller drops them → NULL cv on its
        left join), as the xs slice drops them in the reference."""
        cv = self._contract_value_expr(prices)
        tkey = self._time_key()
        earliest = prices.agg(F.min(tkey).alias("__tmin"))
        nn_key = F.when(F.col("__cvr").isNotNull(), F.col("__tk"))
        at_tmin = F.col("__tk") == F.col("__tmin")
        day = (prices.withColumn("__cvr", cv)
               .withColumn("__tk", tkey)
               .crossJoin(F.broadcast(earliest))
               .groupBy("sid", "date")
               .agg(F.min_by("__cvr", nn_key).alias("__cv_comm"),
                    F.max_by("__cvr", nn_key).alias("__day_last"),
                    F.max(F.when(at_tmin, F.col("__cvr"))).alias("__at_tmin"),
                    F.max(at_tmin.cast("int")).alias("__has_tmin")))
        prev_days = Window.partitionBy("sid").orderBy("date") \
            .rowsBetween(Window.unboundedPreceding, -1)
        return day.withColumn(
            "__cv_caps",
            F.coalesce(F.col("__at_tmin"),
                       F.last("__day_last", ignorenulls=True).over(prev_days)))

    def _cv_shared_daily(self, prices: DataFrame) -> DataFrame:
        # identity-keyed memo: never serves a frame built from a
        # different prices panel
        if (self._cv_daily_cache is None
                or self._cv_daily_cache[0] is not prices):
            self._cv_daily_cache = (prices, self._cv_daily_frames(prices))
        return self._cv_daily_cache[1]

    def _cv_caps(self, prices: DataFrame) -> DataFrame:
        """(sid, date, __cv) caps frame (see ``_cv_daily_frames``)."""
        return (self._cv_shared_daily(prices)
                .where(F.col("__has_tmin") == 1)
                .select("sid", "date", F.col("__cv_caps").alias("__cv")))

    def _cv_commissions(self, prices: DataFrame) -> DataFrame:
        """(sid, date, __cv) commissions frame (see
        ``_cv_daily_frames``)."""
        return (self._cv_shared_daily(prices)
                .where(F.col("__cv_comm").isNotNull())
                .select("sid", "date", F.col("__cv_comm").alias("__cv")))

    def _constrain_weights(self, weights: DataFrame, prices: DataFrame) -> DataFrame:
        max_longs, max_shorts = self.limit_position_sizes(prices)
        if max_longs is None and max_shorts is None:
            return weights

        if "nlv" not in weights.columns:
            raise MoonshotParameterError(
                "must provide NLVs if using limit_position_sizes")

        if self._is_intraday(prices) and not self._is_intraday(weights):
            # once-a-day intraday: price the quantities at the panel's
            # earliest bar (reference base.py:943-949), NOT whichever bar
            # the strategy happened to slice into its weights frame
            df = weights.join(self._cv_caps(prices), ["sid", "date"],
                              "left")
        else:
            w = self._sid_window(weights)
            cv = self._contract_value_expr(weights)
            cv_ffilled = F.last(cv, ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, 0))
            df = weights.withColumn("__cv", cv_ffilled)
        keys = ["sid", *self._date_cols(weights)]
        if max_longs is not None:
            df = df.join(max_longs.withColumnRenamed("max_quantity", "__max_long"),
                         keys, "left")
        if max_shorts is not None:
            df = df.join(max_shorts.withColumnRenamed("max_quantity", "__max_short"),
                         keys, "left")

        # weights → integer quantities (reference base.py:947-956)
        df, q = _size_quantities(
            df, "__qty", F.col("weight") * F.col("nlv"), F.col("__cv"),
            F.col("__max_long") if max_longs is not None else None,
            F.col("__max_short") if max_shorts is not None else None)

        # quantities → weights (reference base.py:968-971)
        df = df.withColumn("weight", q * F.col("__cv") / F.col("nlv"))
        return df.drop("__cv", "__qty", "__max_long", "__max_short")

    # ------------------------------------------------------------------ #
    # benchmark (D17, reference base.py:1402-1500)                       #
    # ------------------------------------------------------------------ #

    BENCHMARK_TIME: str | None = None

    def _benchmark_returns(self, prices: DataFrame,
                           daily: bool = True) -> DataFrame | None:
        """Benchmark return series (D17 — reference base.py:1402-1500).

        ``daily`` mirrors the reference's ``daily=not results_are_intraday``:
        True when the results frame is daily (end-of-day or once-a-day
        intraday strategies), False for continuous intraday results.
        Reference semantics reproduced exactly:

        - external source (BENCHMARK_DB) is reindexed onto the panel's
          date spine (daily) or broadcast across its (date, time) bars
          (continuous) — reference reindex at base.py:1446-1459;
        - intraday panel + daily results requires BENCHMARK_TIME
          (base.py:1492-1495) and slices the daily benchmark from it;
          continuous results ignore BENCHMARK_TIME and ride the bars;
        - returns are ``ffill().pct_change().fillna(0)`` (base.py:1500):
          the first observation is 0.0, not null.
        """
        if not self.BENCHMARK:
            return None
        panel_date_cols = list(self._date_cols(prices))
        external = self._benchmark_prices is not None
        # benchmark from a separate source (reference BENCHMARK_DB,
        # base.py:1402-1500) or extracted from the panel itself
        source = self._benchmark_prices if external else prices
        if external and "time" in self._benchmark_prices.columns:
            raise MoonshotParameterError(
                "only end-of-day databases are supported for BENCHMARK_DB "
                "but the provided benchmark prices are intraday")
        src_date_cols = [c for c in panel_date_cols
                         if c in source.columns] or ["date"]
        # benchmark field: first candidate present (ref base.py:1466-1477)
        candidates = ("close", "open", "bid", "ask", "high", "low")
        field = next((c for c in candidates if c in source.columns), None)
        if field is None:
            raise MoonshotParameterError(
                "Cannot extract BENCHMARK {0} from data without one of "
                "{1}".format(self.BENCHMARK, ", ".join(candidates)))
        bench = (source.where(F.col("sid") == self.BENCHMARK)
                 .select(*src_date_cols, F.col(field).alias("close")))
        if bench.isEmpty():
            # validation parity (ref base.py:1480-1484); bounded action —
            # one filter on the (usually benchmark-only) source
            raise MoonshotError(
                "BENCHMARK Sid {0} is not in data".format(self.BENCHMARK))
        if external:
            # reindex the (daily) external benchmark onto the panel's
            # spine (reference base.py:1446-1459): daily results get the
            # panel's date spine — dates the source lacks ffill to a 0
            # return; continuous results broadcast the daily price across
            # each day's bars, so the first bar of a day carries the
            # daily move and later bars show 0
            if "time" in panel_date_cols and not daily:
                spine = prices.select("date", "time").distinct()
                out_cols = ["date", "time"]
            else:
                spine = prices.select("date").distinct()
                out_cols = ["date"]
            bench = spine.join(F.broadcast(bench), "date", "left")
        elif "time" in bench.columns and daily:
            # once-a-day intraday: daily results from an intraday panel
            # need BENCHMARK_TIME to pick the day's benchmark bar
            # (ref base.py:1491-1499)
            if not self.BENCHMARK_TIME:
                raise MoonshotParameterError(
                    "Cannot extract BENCHMARK {0} from data because "
                    "prices contains intraday prices but no BENCHMARK_TIME "
                    "specified".format(self.BENCHMARK))
            sliced = bench.where(F.col("time") == self.BENCHMARK_TIME)
            if sliced.isEmpty():
                raise MoonshotError(
                    "BENCHMARK_TIME {0} is not in data"
                    .format(self.BENCHMARK_TIME))
            bench = sliced.drop("time")
            out_cols = ["date"]
        else:
            out_cols = src_date_cols
        # two-phase boundary-carry ffill/lag: month-partitioned, so a
        # minute-grain intraday benchmark never funnels through one task
        # (VERDICT r11 item 6); bit-identical to the global-window form
        from moonshot_spark.functions.window import global_ffill_with_lag
        bench = global_ffill_with_lag(bench, "close", out_cols,
                                      "__close", "__prev")
        # fillna(0): first obs (and any gap where ffill leaves the price
        # flat or missing) is a 0.0 return, not null (ref base.py:1500)
        return (bench.withColumn(
                    "benchmark",
                    F.coalesce((F.col("__close") - F.col("__prev"))
                               / F.col("__prev"), F.lit(0.0)))
                .select(*out_cols, "benchmark"))

    # ------------------------------------------------------------------ #
    # master join                                                        #
    # ------------------------------------------------------------------ #

    def _join_master(self, prices: DataFrame, master: DataFrame | None,
                     nlv: dict[str, float] | None) -> DataFrame:
        """Broadcast-join the securities dimension onto the panel (J4 —
        replaces the reference's `.apply` row-broadcast, base.py:858-879).
        Optionally append per-currency NLV (reference base.py:1126-1144)."""
        if master is None:
            return prices
        self._securities_master = master
        join_cols = [c for c in master.columns if c != "sid"
                     and c not in prices.columns]
        prices = prices.join(F.broadcast(master.select("sid", *join_cols)),
                             "sid", "left")
        nlv = nlv or self.NLV
        if nlv is not None and "currency" in prices.columns:
            spark = prices.sparkSession
            # FX: NLV keys on the quote currency, not the settlement one
            nlv_ccy = _quote_currency(master.columns)
            # missing-currency validation on the broadcast-sized master,
            # never the panel (reference base.py:1136-1140)
            if "currency" in master.columns:
                required = {r[0] for r in master.select(nlv_ccy.alias("c"))
                            .distinct().collect() if r[0]}
                missing = required - set(nlv)
                if missing:
                    raise MoonshotParameterError(
                        "NLV dict is missing values for required "
                        "currencies: {0}".format(", ".join(sorted(missing))))
            nlv_df = local_df(
                spark, [(k, float(v)) for k, v in nlv.items()],
                "__nlv_ccy string, nlv double")
            prices = (prices.withColumn("__nlv_ccy", nlv_ccy)
                      .join(F.broadcast(nlv_df), "__nlv_ccy", "left")
                      .drop("__nlv_ccy"))
        return prices

    # ------------------------------------------------------------------ #
    # the backtest pipeline (D18, reference base.py:1293-1400)           #
    # ------------------------------------------------------------------ #

    def backtest(self, prices: DataFrame, master: DataFrame | None = None,
                 start_date: str | None = None, end_date: str | None = None,
                 nlv: dict[str, float] | None = None,
                 allocation: float = 1.0,
                 label_sids: bool = False,
                 benchmark_prices: DataFrame | None = None,
                 no_cache: bool = False) -> DataFrame:
        """Run the backtest DAG and return the long results DataFrame
        ``(field, sid, date[, time], value)``.

        Stage order matches reference base.py:1335-1400 exactly.
        ``no_cache`` bypasses cached intermediates (reference backtest's
        ``no_cache`` flag — used by the ML feature cache).
        """
        self.is_backtest = True
        self._no_cache = no_cache
        allocation = allocation or 1.0
        self._benchmark_prices = benchmark_prices

        if end_date:
            prices = prices.where(F.col("date") <= F.lit(end_date).cast("date"))
        prices = self._join_master(prices, master, nlv)

        df = self.prices_to_signals(prices)
        df = df.withColumn("signal", F.col("signal").cast("double"))
        df = self._call_hook(self.signals_to_target_weights, df, prices)
        df = df.withColumn("weight", F.col("weight") * F.lit(allocation))
        # (once-a-day intraday caps and commissions both derive from the
        # shared daily contract-value frame, memoized by panel identity
        # in _cv_shared_daily — one scan serves both)
        df = self._constrain_weights(df, prices)
        df = self._call_hook(self.target_weights_to_positions, df, prices)
        df = self._call_hook(self.positions_to_gross_returns, df, prices)
        df = df.withColumn("turnover", self._turnover_expr(df))
        df = self._with_commissions(df, prices)
        df = self._with_slippage(df)
        # returns = gross.fillna(0) − commissions − slippage (base.py:1348);
        # commission NULLs (from NULL first-row turnover) propagate like NaN.
        df = df.withColumn(
            "return",
            F.coalesce(F.col("gross_return"), F.lit(0.0))
            - F.col("commission") - F.col("slippage"))
        df = df.withColumn(
            "total_holdings",
            (F.coalesce(F.col("position"), F.lit(0.0)) != 0).cast("double"))

        results = self._melt_results(df, prices)

        if label_sids and master is not None:
            symbols = master.select(
                "sid", F.concat(F.col("symbol"), F.lit("("), F.col("sid"),
                                F.lit(")")).alias("__label"))
            results = (results.join(F.broadcast(symbols), "sid", "left")
                       .withColumn("sid", F.coalesce("__label", "sid"))
                       .drop("__label"))

        if start_date:
            results = results.where(
                F.col("date") >= F.lit(start_date).cast("date"))
        return results

    # ------------------------------------------------------------------ #
    # the trade pipeline (D19–D22, D26 — reference base.py:1572-1806)    #
    # ------------------------------------------------------------------ #

    ACCOUNT_BALANCE_FIELD: str | list[str] | None = None

    def _now(self, tz: str | None):
        """Wall-clock seam (tz-aware pandas Timestamp).  The reference calls
        ``pd.Timestamp.now(tz=...)`` inline (base.py:750,757); a method makes
        live "today" injectable in tests and batch replays."""
        import pandas as pd
        return pd.Timestamp.now(tz=tz)

    def _resolve_signal_datetime(self, review_date: str | None,
                                 master: DataFrame | None):
        """Resolve the live signal datetime (D19/S8 — reference
        base.py:735-762).  Precedence:

        1. ``review_date`` (may carry a time for intraday strategies);
        2. ``CALENDAR`` via ``calendar_service``: closed → last-open
           ``since`` date, open → now in the exchange's timezone;
        3. ``TIMEZONE`` (or the master's single timezone) → tz-aware now.

        Returns a pandas Timestamp, or None when none of the above are
        available — batch inputs with no clock context fall back to the
        panel's max date (a documented divergence: the reference always
        runs against a live service and a real clock).
        """
        import pandas as pd

        if review_date is not None:
            return pd.Timestamp(review_date)
        if self.CALENDAR:
            if self.calendar_service is None:
                raise MoonshotParameterError(
                    "CALENDAR={0!r} requires a calendar_service (see "
                    "moonshot_spark.sources.calendars.make_calendar_service)"
                    .format(self.CALENDAR))
            status = self.calendar_service(self.CALENDAR)
            if status["status"] == "closed":
                # signals correspond to the date the exchange was last open
                return pd.Timestamp(status["since"])
            return self._now(status["timezone"])
        tz = self.TIMEZONE
        if tz is None and master is not None and "timezone" in master.columns:
            # inferred from the (broadcast-sized) master
            tz = single_timezone(master)
        if tz is not None:
            return self._now(tz)
        return None

    def trade(self, prices: DataFrame, allocations: dict[str, float],
              balances: DataFrame, exchange_rates: DataFrame | None = None,
              positions: DataFrame | None = None,
              open_orders: DataFrame | None = None,
              master: DataFrame | None = None,
              review_date: str | None = None) -> DataFrame | None:
        """Generate live orders: today's target weights → net order quantities.

        Stage order matches reference base.py:1595-1806.  Inputs replace the
        reference's quantrocket service calls (SURVEY §2.1 S3–S6):

        - ``balances``: (account, currency, <balance fields...>)
        - ``exchange_rates``: (base_currency, quote_currency, rate)
        - ``positions``: (sid, account, quantity) current positions
        - ``open_orders``: (sid, account, quantity) net remaining order qty
        - ``allocations``: account → fraction of NLV for this strategy

        Every join here is a broadcast join (all inputs are small dims); the
        only large-data stages are the signal/weight windows, identical to
        the backtest path.  Returns None when there is nothing to order
        (reference base.py:1800-1801).
        """
        self.is_trade = True
        self.review_date = review_date
        # reset per call: a reused instance must not inherit the previous
        # trade's signal time (caps_at_signal / reindex_like_orders would
        # silently slice to a stale bar)
        self._signal_date = None
        self._signal_time = None
        spark = prices.sparkSession
        raw_price_fields = [c for c in prices.columns
                            if c not in ("sid", "date", "time")]

        prices = self._join_master(prices, master, None)
        df = self.prices_to_signals(prices)
        df = df.withColumn("signal", F.col("signal").cast("double"))
        df = self._call_hook(self.signals_to_target_weights, df, prices)

        # D19/S8: signal-date resolution (reference base.py:735-830).
        # review_date > CALENDAR status > TIMEZONE/inferred-tz "now"; batch
        # inputs with no clock context fall back to the panel's max date.
        weights_is_intraday = self._is_intraday(df)
        dt = self._resolve_signal_datetime(review_date, master)
        # ONE validation aggregate over the weights frame: max date,
        # signal-date presence, and (intraday) the eligible earlier
        # times — the reference pays a pass per check (base.py:773-830);
        # a single map-side-combinable agg replaces 2-3 Spark jobs
        trade_time = dt.strftime("%H:%M:%S") if dt is not None else None
        probes = [F.max("date").alias("__max_date")]
        if dt is not None:
            probes.append(F.max((F.col("date") == F.lit(dt.date()))
                                .cast("int")).alias("__has_signal"))
            if weights_is_intraday:
                probes.append(F.sort_array(F.collect_set(
                    F.when(F.col("time") < trade_time, F.col("time")))
                ).alias("__times"))
        probe = df.agg(*probes).collect()[0]
        max_date = probe["__max_date"]
        if dt is not None:
            signal_date = dt.date()
            if (max_date is None or signal_date > max_date
                    or not probe["__has_signal"]):
                # staleness validation — reference base.py:773-787: the
                # signal date must actually exist in the weights frame
                # (a date inside the range but absent — e.g. a holiday —
                # must error, not silently emit no orders)
                msg = ("expected signal date {0} not found in target weights "
                       "DataFrame, is the underlying data up-to-date? "
                       "(max date is {1})")
                if (not self.CALENDAR and not weights_is_intraday
                        and max_date is not None
                        and (signal_date - max_date).days == 1):
                    # reference base.py:780-783: a one-day gap usually means
                    # trading before the open without a calendar
                    msg += (" If your strategy trades before the open and "
                            "{0} data is not expected, try setting "
                            "CALENDAR = <exchange>")
                raise MoonshotError(msg.format(signal_date.isoformat(),
                                               max_date.isoformat()
                                               if max_date else None))
        else:
            signal_date = max_date
        self._signal_date = signal_date
        today = df.where(F.col("date") == F.lit(signal_date))
        if weights_is_intraday:
            if trade_time is not None:
                # reference base.py:790-795: one global signal time — the
                # latest time in the whole weights frame strictly earlier
                # than the trade time.  The distinct-times set came back
                # with the validation probe above (bounded by the bar
                # schedule, never data scale).
                times = [t for t in probe["__times"] if t is not None]
                if not times:
                    msg = ("cannot determine which target weights to use "
                           "for orders because target weights DataFrame "
                           "contains no times earlier than trade time {0} "
                           "for signal date {1}".format(
                               trade_time, signal_date.isoformat()))
                    if review_date:
                        msg += ", please adjust the review_date"
                    raise MoonshotError(msg)
                signal_time = times[-1]
                self._signal_time = signal_time
                # stale-time validation (reference base.py:807-830): at
                # least one non-null price field must exist at the signal
                # time on the signal date — the weights frame alone can't
                # show staleness because get_prices spine-fills all times
                from functools import reduce
                notnull_any = reduce(
                    lambda a, b: a | b,
                    [F.col(c).isNotNull() for c in raw_price_fields],
                    F.lit(False))
                today_prices = (prices
                                .where(F.col("date") == F.lit(signal_date))
                                .where(notnull_any))
                if (today_prices.where(F.col("time") == signal_time)
                        .isEmpty()):
                    max_time = today_prices.select(F.max("time")) \
                        .collect()[0][0]
                    raise MoonshotError(
                        "no {0} data found in prices DataFrame for signal "
                        "date {1}, is the underlying data up-to-date? "
                        "(max time for {1} is {2})".format(
                            signal_time, signal_date.isoformat(), max_time))
                today = today.where(F.col("time") == signal_time)
            else:
                # batch fallback: latest time per sid (J7 as-of analog)
                today = _latest_per_sid(today)

        # contract values from the PRICES panel (not the weights frame —
        # a once-a-day strategy's daily weights carry only the sliced
        # bar's price), as-of signal date, ffilled (base.py:1622-1624).
        # ONE map-side-combinable aggregate instead of the r1-r9
        # window+filter+groupBy: the ffilled value at the as-of point is
        # max(struct(date[,time], value)) over non-null values in scope —
        # bit-identical to F.last(ignorenulls) over the (date[,time])
        # window because bar keys are unique per sid, and it skips the
        # full-history sort/window materialization (the window form
        # ffills EVERY bar just to keep one).  The presence flag
        # reproduces the reference's "only sids with a row at the signal
        # bar get a contract value" slice (base.py:1622-1628: intraday
        # continuous = .loc[signal_time], once-a-day/batch = .iloc[-1]).
        e = self._contract_value_expr(prices)
        date_at = F.col("date") == F.lit(signal_date)
        if self._is_intraday(prices):
            if self._signal_time is not None:
                in_scope = ((F.col("date") < F.lit(signal_date))
                            | (date_at & (F.col("time") <= self._signal_time)))
                present = date_at & (F.col("time") <= self._signal_time)
            else:
                in_scope = F.col("date") <= F.lit(signal_date)
                present = date_at
            key = [F.col("date"), F.col("time")]
        else:
            in_scope = F.col("date") <= F.lit(signal_date)
            present = date_at
            key = [F.col("date")]
        cv_today = (
            prices.where(in_scope)
            .groupBy("sid")
            .agg(F.max(F.when(e.isNotNull(), F.struct(*key, e.alias("v"))))
                 .alias("__s"),
                 F.max(present.cast("int")).alias("__p"))
            .select("sid", F.when(F.col("__p") == 1, F.col("__s")["v"])
                    .alias("contract_value")))
        today = today.select("sid", "weight",
                             *[c for c in ("sec_type", "currency", "symbol")
                               if c in today.columns]) \
            .join(F.broadcast(cv_today), "sid", "left")

        # cross with accounts; weight × allocation (base.py:1609-1616).
        # Integer account numbers keep their type end-to-end (reference
        # test_trade.py:2398+), so the balances/positions joins are
        # cast-free and the orders carry the caller's account identity.
        acct_type = ("bigint" if all(isinstance(a, int)
                                     for a in allocations) else "string")
        alloc_df = local_df(
            spark,
            [(a if acct_type == "bigint" else str(a), float(v))
             for a, v in allocations.items()],
            f"account {acct_type}, allocation double")
        today = (today.crossJoin(F.broadcast(alloc_df))
                 .withColumn("weight", F.col("weight") * F.col("allocation")))

        # NLV = least of balance fields (A5, base.py:1671); base currency
        balance_fields = self.ACCOUNT_BALANCE_FIELD or "net_liquidation"
        if not isinstance(balance_fields, (list, tuple)):
            balance_fields = [balance_fields]
        nlv_expr = (F.least(*[F.col(f) for f in balance_fields])
                    if len(balance_fields) > 1 else F.col(balance_fields[0]))
        bal = balances.select(F.col("account"),
                              F.col("currency").alias("base_currency"),
                              nlv_expr.cast("double").alias("nlv"))
        today = today.join(F.broadcast(bal), "account", "left")

        # trade currency: master Currency; CASH → quote currency from symbol
        # (F2, base.py:1640-1644)
        if "currency" in today.columns:
            today = today.withColumn("quote_currency",
                                     _quote_currency(today.columns))
        else:
            today = today.withColumn("quote_currency", F.col("base_currency"))

        # FX conversion (J2, base.py:1695-1726); rate=1 where base==quote
        if exchange_rates is not None:
            today = today.join(F.broadcast(exchange_rates),
                               ["base_currency", "quote_currency"], "left")
        else:
            today = today.withColumn("rate", F.lit(None).cast("double"))
        # missing-rate validation: a cross-currency row with an active weight
        # and no FX rate must fail loudly, not silently round to 0 orders.
        # F.raise_error fires lazily inside the executors — no extra action.
        # (one nested expression, not two chained withColumns: each
        # withColumn is a full analysis pass + Py4J round-trip)
        rate = F.when(F.col("base_currency") == F.col("quote_currency"),
                      F.lit(1.0)).otherwise(F.col("rate"))
        today = today.withColumn(
            "rate",
            F.when(rate.isNull() & (F.col("weight") != 0),
                   F.raise_error(F.concat(
                       F.lit("no exchange rate provided for "),
                       F.col("base_currency"), F.lit("→"),
                       F.col("quote_currency")))
                   ).otherwise(rate))

        # position-size caps at signal date (base.py:1738-1758); intraday
        # cap frames slice to the signal time like the reference's
        # .loc[self._signal_time] (batch fallback: the day's last time)
        def caps_at_signal(caps: DataFrame) -> DataFrame:
            caps = caps.where(F.col("date") == F.lit(signal_date))
            if "time" in caps.columns:
                if self._signal_time is not None:
                    caps = caps.where(F.col("time") == self._signal_time)
                else:
                    caps = _latest_per_sid(caps)
            return caps

        max_longs, max_shorts = self.limit_position_sizes(prices)
        if max_longs is not None:
            ml = (caps_at_signal(max_longs)
                  .select("sid", F.col("max_quantity").alias("__max_long")))
            today = today.join(F.broadcast(ml), "sid", "left")
        if max_shorts is not None:
            ms = (caps_at_signal(max_shorts)
                  .select("sid", F.col("max_quantity").alias("__max_short")))
            today = today.join(F.broadcast(ms), "sid", "left")
        # weights → integer target quantities (base.py:1728-1734)
        today, q = _size_quantities(
            today, "target_quantity",
            F.col("weight") * F.col("nlv") * F.col("rate"),
            F.col("contract_value"),
            F.col("__max_long") if max_longs is not None else None,
            F.col("__max_short") if max_shorts is not None else None)
        today = today.withColumn("target_quantity", q) \
            .drop("__max_long", "__max_short")

        # existing positions + open orders → net quantities (J3 + D26,
        # base.py:1760-1798)
        existing = self._positions_and_orders(positions, open_orders)
        if existing is not None:
            today = today.join(F.broadcast(existing), ["sid", "account"], "left")
            today = today.withColumn("existing",
                                     F.coalesce("existing", F.lit(0).cast("long")))
            net = F.col("target_quantity") - F.col("existing")
            if self.ALLOW_REBALANCE is not True:
                tq, ex = F.col("target_quantity"), F.col("existing")
                is_rebalance = ((tq > 0) & (ex > 0)) | ((tq < 0) & (ex < 0))
                if not self.ALLOW_REBALANCE:
                    net = F.when(is_rebalance, F.lit(0)).otherwise(net)
                else:
                    if not isinstance(self.ALLOW_REBALANCE, (int, float)):
                        raise MoonshotParameterError(
                            "invalid value for ALLOW_REBALANCE: {0} (should be "
                            "a float)".format(self.ALLOW_REBALANCE))
                    rebalance_pct = F.abs(net.cast("double") / ex)
                    net = F.when(is_rebalance
                                 & (rebalance_pct < self.ALLOW_REBALANCE),
                                 F.lit(0)).otherwise(net)
            today = today.withColumn("net_quantity", net.cast("long"))
        else:
            today = today.withColumn("net_quantity", F.col("target_quantity"))

        # D22: quantities → order stubs (melt; zeros dropped).  Orders are
        # bounded by #sids × #accounts, so materialize them to the driver
        # once: the all-zero gate (base.py:1800-1801) costs one job and the
        # caller consumes a local re-created frame — no recompute, no
        # lingering persist.
        order_stubs = (today.where(F.col("net_quantity") != 0)
                       .select(
                           "sid", "account",
                           F.when(F.col("net_quantity") > 0, F.lit("BUY"))
                           .otherwise(F.lit("SELL")).alias("action"),
                           F.lit(self.CODE).alias("order_ref"),
                           F.abs("net_quantity").alias("total_quantity")))
        stub_rows = order_stubs.collect()
        if not stub_rows:
            return None
        # re-create via explicitly-typed Arrow (sources/local.py):
        # createDataFrame(list-of-Rows) parallelizes into
        # defaultParallelism pickled slices, each costing a Python-worker
        # round-trip on every downstream action; the Arrow path ships one
        # JVM-deserialized batch (3x faster on the dim-sized orders
        # frame, no Python workers in consumers) and — unlike a bare
        # pd.DataFrame — keeps nullable int64 columns integral (ADVICE
        # r10: pandas would coerce None-bearing ints to float64, losing
        # precision above 2^53)
        order_stubs = local_df(spark, stub_rows, order_stubs.schema)
        return self.order_stubs_to_orders(order_stubs, prices)

    @staticmethod
    def _positions_and_orders(positions: DataFrame | None,
                              open_orders: DataFrame | None) -> DataFrame | None:
        """Full-outer combine current positions with net open-order
        quantities (J3 — reference base.py:1850-1851)."""
        def norm(df):
            return df.select("sid", "account",
                             F.col("quantity").cast("long").alias("quantity"))

        if positions is None and open_orders is None:
            return None
        if positions is None:
            combined = norm(open_orders)
        elif open_orders is None:
            combined = norm(positions)
        else:
            p = norm(positions).withColumnRenamed("quantity", "pos_qty")
            o = norm(open_orders).withColumnRenamed("quantity", "ord_qty")
            combined = (p.join(o, ["sid", "account"], "full_outer")
                        .select("sid", "account",
                                (F.coalesce("pos_qty", F.lit(0))
                                 + F.coalesce("ord_qty", F.lit(0))).alias("quantity")))
        return combined.withColumnRenamed("quantity", "existing")

    def reindex_like_orders(self, orders: DataFrame, panel_row: DataFrame,
                            value_cols: list[str] | None = None) -> DataFrame:
        """Align panel values onto the orders frame by sid (J1 — reference
        base.py:547-604 ``orders.join(series, on="Sid")``): used by
        ``order_stubs_to_orders`` overrides to attach prices/limits to
        orders.  Broadcast left join.

        Reference parity: a ``date`` column is sliced to the signal date
        automatically; a ``time`` column is sliced to the signal time for
        continuous intraday strategies, and errors for once-a-day intraday
        strategies (no signal time exists — the caller must take a
        cross-section first, ref base.py:593-598).
        """
        if "date" in panel_row.columns:
            panel_row = (panel_row
                         .where(F.col("date") == F.lit(self._signal_date))
                         .drop("date"))
        if "time" in panel_row.columns:
            signal_time = getattr(self, "_signal_time", None)
            if not signal_time:
                raise MoonshotError(
                    "cannot reindex DataFrame like orders because DataFrame "
                    "contains 'time' column, please take a cross-section "
                    "first, for example: "
                    "df.where(F.col('time') == '15:45:00')")
            panel_row = (panel_row.where(F.col("time") == signal_time)
                         .drop("time"))
        value_cols = value_cols or [c for c in panel_row.columns if c != "sid"]
        return orders.join(F.broadcast(panel_row.select("sid", *value_cols)),
                           "sid", "left")

    def orders_to_child_orders(self, orders: DataFrame) -> DataFrame:
        """Bracket orders: copy orders, link via parent_id, reverse the
        action (D21 — reference base.py:607-655)."""
        if "order_id" not in orders.columns:
            orders = orders.withColumn(
                "order_id", F.monotonically_increasing_id().cast("string"))
        return (orders
                .withColumnRenamed("order_id", "parent_id")
                .withColumn("action",
                            F.when(F.col("action") == "BUY", F.lit("SELL"))
                            .otherwise(F.lit("BUY")))
                .withColumn("order_id", F.lit(None).cast("string")))

    def _melt_results(self, df: DataFrame, prices: DataFrame) -> DataFrame:
        """Stack the metric columns into the long results format
        (R1 — reference pd.concat at base.py:1382-1388)."""
        date_cols = list(self._date_cols(df))
        metric_exprs = {
            "AbsExposure": F.abs(F.col("position")),
            "AbsWeight": F.abs(F.col("weight")),
            "Commission": F.col("commission"),
            "NetExposure": F.col("position"),
            "Return": F.col("return"),
            "Signal": F.col("signal"),
            "Slippage": F.col("slippage"),
            "TotalHoldings": F.col("total_holdings"),
            "Turnover": F.col("turnover"),
            "Weight": F.col("weight"),
        }
        for name, colname in self._backtest_results.items():
            if colname not in df.columns:
                # reference test_save_custom_dataframe: a saved frame that
                # doesn't align with the results index errors clearly
                raise MoonshotParameterError(
                    "cannot save {0} to results because column {1!r} is "
                    "not in the final pipeline DataFrame (columns: {2})"
                    .format(name, colname, ", ".join(df.columns)))
            metric_exprs[name] = F.col(colname).cast("double")

        stack_args = []
        for name in sorted(metric_exprs):
            stack_args.append(F.lit(name))
            stack_args.append(metric_exprs[name].cast("double"))
        results = df.select(
            "sid", *date_cols,
            F.stack(F.lit(len(metric_exprs)), *stack_args).alias("field", "value"))

        # daily = not results_are_intraday (reference base.py:1380): the
        # RESULTS frame decides — a once-a-day strategy over an intraday
        # panel reports a daily benchmark via BENCHMARK_TIME
        bench = self._benchmark_returns(prices,
                                        daily="time" not in date_cols)
        if bench is not None:
            # a BENCHMARK_TIME-sliced benchmark is daily even when the
            # panel is intraday; missing date cols (time) union as NULL
            bench_cols = [c for c in date_cols if c in bench.columns]
            bench_long = bench.select(
                F.lit(self.BENCHMARK).alias("sid"), *bench_cols,
                F.lit("Benchmark").alias("field"),
                F.col("benchmark").cast("double").alias("value"))
            results = results.unionByName(bench_long,
                                          allowMissingColumns=True)
        return results.select("field", "sid", *date_cols, "value")


def pivot_results(results: DataFrame, fields: dict[str, str]) -> DataFrame:
    """Long results back to one column per field, the inverse of
    ``Moonshot._melt_results``: keyed by (sid, date[, time]) as the
    results are, ``fields`` maps each field to its output column, in
    output order."""
    keys = [c for c in ("sid", "date", "time") if c in results.columns]
    return (results.groupBy(*keys).pivot("field", list(fields))
            .agg(F.first("value"))
            .select(*keys, *[F.col(f).alias(c) for f, c in fields.items()]))
