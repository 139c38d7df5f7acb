"""Drop-in API compatibility with the reference library's public surface.

A user of Nike-Inc/spark-expectations drives it through
``SparkExpectations(product_id, rules_df, stats_table, ...)`` and the
``@se.with_expectations(target_table, ...)`` decorator with string-keyed
``user_conf`` options (reference core/expectations.py:85-104,893-901,
config/user_config.py). This module re-expresses that exact surface on
top of DQEngine so existing call sites migrate by changing one import.
Only the public API shape is mirrored — the execution underneath is this
engine's (fused projections, single-job counts, fused query rules).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Any, Callable, Dict, Optional, Union

from .connect import AnyDataFrame
from .core.engine import DQEngine
from .core.rules import RuleSet, _as_bool
from .core.state import DQConfig, WriterOptions
from .notifications import (NotificationHub, NotificationRules,
                            console_notifier, email_notifier,
                            slack_notifier, teams_notifier,
                            webhook_notifier, zoom_notifier)
from .sinks.builder import WrappedDataFrameWriter

#: The reference exposes a separate builder class for streaming sinks
#: (core/expectations.py:80,101); here one builder carries both batch and
#: streaming knobs, so the stream variant is an alias for API parity.
WrappedDataFrameStreamWriter = WrappedDataFrameWriter

# user_conf keys (verbatim strings from reference config/user_config.py —
# the public configuration contract)
SE_NOTIFICATIONS_ON_START = "spark.expectations.notifications.on.start"
SE_NOTIFICATIONS_ON_COMPLETION = "spark.expectations.notifications.on.completion"
SE_NOTIFICATIONS_ON_FAIL = "spark.expectations.notifications.on.fail"
SE_NOTIFICATIONS_ON_ERROR_DROP_THRESHOLD = (
    "spark.expectations.notifications.error.drop.threshold")
SE_NOTIFICATIONS_ON_IGNORED_RULES = (
    "spark.expectations.notifications.on.rules.action.if.failed.set.ignore")
SE_NOTIFICATIONS_MIN_PRIORITY_SLACK = (
    "spark.expectations.notifications.slack.min.priority")
SE_NOTIFICATIONS_ENABLE_SLACK = "spark.expectations.notifications.slack.enabled"
SE_NOTIFICATIONS_SLACK_WEBHOOK_URL = (
    "spark.expectations.notifications.slack.webhook.url")
SE_NOTIFICATIONS_ENABLE_TEAMS = "spark.expectations.notifications.teams.enabled"
SE_NOTIFICATIONS_TEAMS_WEBHOOK_URL = (
    "spark.expectations.notifications.teams.webhook.url")
SE_NOTIFICATIONS_ENABLE_ZOOM = "spark.expectations.notifications.zoom.enabled"
SE_NOTIFICATIONS_ZOOM_WEBHOOK_URL = (
    "spark.expectations.notifications.zoom.webhook.url")
SE_NOTIFICATIONS_ZOOM_TOKEN = "spark.expectations.notifications.zoom.token"
SE_NOTIFICATIONS_EMAIL_SUBJECT = (
    "spark.expectations.notifications.email.subject")
SE_NOTIFICATIONS_ENABLE_PAGERDUTY = (
    "spark.expectations.notifications.pagerduty.enabled")
SE_NOTIFICATIONS_PAGERDUTY_WEBHOOK_URL = (
    "spark.expectations.notifications.pagerduty.webhook.url")
SE_NOTIFICATIONS_ENABLE_EMAIL = "spark.expectations.notifications.email.enabled"
SE_NOTIFICATIONS_EMAIL_SMTP_HOST = (
    "spark.expectations.notifications.email.smtp.host")
SE_NOTIFICATIONS_EMAIL_SMTP_PORT = (
    "spark.expectations.notifications.email.smtp.port")
SE_NOTIFICATIONS_EMAIL_FROM = "spark.expectations.notifications.email.from"
SE_NOTIFICATIONS_EMAIL_TO = (
    "spark.expectations.notifications.email.to.other.mail.com")
SE_ENABLE_ERROR_TABLE = "se.enable.error.table"
SE_DQ_RULES_PARAMS = "se.dq.rules.params"
SE_ENABLE_AGG_DQ_DETAILED_RESULT = "spark.expectations.agg.dq.detailed.stats"
SE_ENABLE_QUERY_DQ_DETAILED_RESULT = "spark.expectations.query.dq.detailed.stats"


@dataclass
class SparkExpectations:
    """Reference-shaped entry point (core/expectations.py:85-104).

    ``rules_df`` is filtered by product_id/table_name and collected to
    driver-side Rule objects at decoration time — same contract as the
    reference's reader (utils/reader.py:261-379).
    """

    product_id: str
    #: classic OR Connect frame — the reference's type-alias union
    #: (core/expectations.py:43-72); see connect.py for the support
    #: matrix of what degrades (softly) under Connect
    rules_df: AnyDataFrame
    stats_table: str
    stats_table_writer: Optional[WrappedDataFrameWriter] = None
    target_and_error_table_writer: Optional[WrappedDataFrameWriter] = None
    debugger: bool = False
    stats_streaming_options: Optional[Dict[str, Union[str, bool]]] = None

    def with_expectations(
        self,
        target_table: str,
        write_to_table: bool = False,
        write_to_temp_table: bool = False,
        user_conf: Optional[Dict[str, Any]] = None,
        target_table_view: Optional[str] = None,
        target_and_error_table_writer: Optional[WrappedDataFrameWriter] = None,
    ) -> Callable:
        """Decorator with the reference's signature
        (core/expectations.py:893-901). The wrapped function returns the
        final DataFrame (batch) or StreamingQuery — reference behavior —
        not the richer DQResult (use DQEngine directly for that)."""
        conf = dict(user_conf or {})
        params = dict(conf.get(SE_DQ_RULES_PARAMS, {}) or {})

        # user_conf values arrive as STRINGS from JSON/properties/
        # spark-submit --conf — bool('false') is True, so every boolean
        # key goes through the same lenient coercion the rule loader
        # uses, and the threshold through float()
        def b(key: str, default: bool) -> bool:
            return _as_bool(conf.get(key), default)

        thr = conf.get(SE_NOTIFICATIONS_ON_ERROR_DROP_THRESHOLD)
        hub = None
        notif = NotificationRules(
            notify_on_start=b(SE_NOTIFICATIONS_ON_START, False),
            notify_on_completion=b(SE_NOTIFICATIONS_ON_COMPLETION, False),
            notify_on_failure=b(SE_NOTIFICATIONS_ON_FAIL, True),
            error_threshold_pct=float(thr) if thr is not None else None,
            notify_on_ignored_rules=b(SE_NOTIFICATIONS_ON_IGNORED_RULES,
                                      False),
            min_priority=str(
                conf.get(SE_NOTIFICATIONS_MIN_PRIORITY_SLACK, "low")),
        )
        channels = [console_notifier]
        # vendor channels (reference plugins/*), each posting the body its
        # webhook expects; PagerDuty's Events API also needs a routing
        # key that user_conf does not carry, so it gets the generic body
        token = conf.get(SE_NOTIFICATIONS_ZOOM_TOKEN)
        for enabled, url, make in (
            (b(SE_NOTIFICATIONS_ENABLE_SLACK, False),
             conf.get(SE_NOTIFICATIONS_SLACK_WEBHOOK_URL), slack_notifier),
            (b(SE_NOTIFICATIONS_ENABLE_TEAMS, False),
             conf.get(SE_NOTIFICATIONS_TEAMS_WEBHOOK_URL), teams_notifier),
            # Zoom's webhook rejects a post without its token
            (b(SE_NOTIFICATIONS_ENABLE_ZOOM, False) and token,
             conf.get(SE_NOTIFICATIONS_ZOOM_WEBHOOK_URL),
             lambda u: zoom_notifier(u, str(token))),
            (b(SE_NOTIFICATIONS_ENABLE_PAGERDUTY, False),
             conf.get(SE_NOTIFICATIONS_PAGERDUTY_WEBHOOK_URL),
             webhook_notifier),
        ):
            if enabled and url:
                channels.append(make(str(url)))
        if (b(SE_NOTIFICATIONS_ENABLE_EMAIL, False)
                and conf.get(SE_NOTIFICATIONS_EMAIL_SMTP_HOST)):
            channels.append(email_notifier(
                str(conf[SE_NOTIFICATIONS_EMAIL_SMTP_HOST]),
                int(conf.get(SE_NOTIFICATIONS_EMAIL_SMTP_PORT, 25)),
                str(conf.get(SE_NOTIFICATIONS_EMAIL_FROM, "spark-expectations")),
                [a.strip() for a in
                 str(conf.get(SE_NOTIFICATIONS_EMAIL_TO, "")).split(",")
                 if a.strip()],
                subject=conf.get(SE_NOTIFICATIONS_EMAIL_SUBJECT),
            ))
        if (notif.notify_on_start or notif.notify_on_completion
                or notif.notify_on_failure or notif.notify_on_ignored_rules
                or notif.error_threshold_pct is not None
                or len(channels) > 1):
            hub = NotificationHub(notif)
            for ch in channels:
                hub.register(ch)

        writer_builder = (target_and_error_table_writer
                          or self.target_and_error_table_writer)
        table_writer = (writer_builder.build() if writer_builder
                        else WriterOptions(mode="append"))
        stats_writer = (self.stats_table_writer.build()
                        if self.stats_table_writer
                        else WriterOptions(mode="append"))
        detailed = (b(SE_ENABLE_AGG_DQ_DETAILED_RESULT, False)
                    or b(SE_ENABLE_QUERY_DQ_DETAILED_RESULT, False))

        cfg = DQConfig(
            product_id=self.product_id,
            table_name=target_table,
            params=params,
            target_view=target_table_view,
            write_error_table=b(SE_ENABLE_ERROR_TABLE, True),
            error_writer=table_writer,
            write_stats_table=True,
            stats_table=self.stats_table,
            stats_writer=stats_writer,
            enable_detailed_stats=detailed,
            target_table=target_table if write_to_table else None,
            target_writer=table_writer,
            use_temp_table=write_to_temp_table,
            temp_writer=table_writer,
            notifications=hub,
        )
        rules = RuleSet.from_df(
            self.rules_df, product_id=self.product_id,
            table_name=target_table, params=params)
        engine = DQEngine(cfg)

        def deco(func: Callable[..., AnyDataFrame]):
            @functools.wraps(func)
            def wrapper(*args, **kwargs):
                df = func(*args, **kwargs)
                result = engine.run(df, rules, df.sparkSession)
                if result.streaming_query is not None:
                    return result.streaming_query
                return result.final_df

            return wrapper

        return deco
