package graft.model

import java.sql.Timestamp

/** The canonical transcript row — exactly the `input_hint` shape from
  * BASELINE.json. One row per turn of a multi-turn conversation.
  *
  * Reference data model analog: `pkg/stanza/entry/entry.go:14-26` (the
  * stanza `entry.Entry`): `text` plays Body, `role`/`tool` are the
  * denormalised Resource/Attributes envelope, `ts` is Timestamp.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)
